package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.streaming.{EventStreams, NesConfig, StreamJobs}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: Path, cpus: Int)

/** What one run measured: metrics with units, sample counts, and the
  * attempted/failed operation counts of the correctness check.
  */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val samples = mutable.LinkedHashMap.empty[String, Long]
  /** Per-item figures behind the metrics, kept in the run record. */
  val detail = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
}

object Workloads {
  val tokenSchema: StructType = StructType(
    Seq("contract_account_id", "token_id", "title", "media", "extra").map(StructField(_, StringType)))

  /** The benchmark's nes.toml: metadata enrichment on, one blacklisted contract. */
  val Config: NesConfig = NesConfig(blacklistContractIds = Seq(Gen.Blacklisted), enrichMetadata = true)

  // Sizes, chosen so every run of every workload fits its time budget on a
  // 4-core machine; see perfbench/README.md.
  val BackfillLines = 60000
  val BackfillFiles = 8
  val WarmLines = 2000
  val SetupRounds = 4
  val MinDrains = 3
  /** Live offered rate (lines/s): about a quarter of the backfill capacity. */
  val LiveRate = 3000
  val TickMs = 250
  /** Live trigger interval, with headroom over a batch's cost at the offered rate. */
  val TriggerMs = 2500
  /** Start of the open loop left out of the live figures (four batches). */
  val LiveWarmInMs = 10000
  val Stages = Seq("extractEvents", "validated", "filterContracts", "toKafkaRecords",
    "flattenNep171", "enrichMetadata", "metadataRecords")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Percentile of values weighted by integer counts. */
  def weightedPercentile(xs: Seq[(Double, Long)], p: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2).sum
    if (total == 0) return 0.0
    val rank = math.max(1L, math.ceil(total * p / 100).toLong)
    var acc = 0L
    s.find { case (_, n) => acc += n; acc >= rank }.map(_._1).getOrElse(s.last._1)
  }

  private def secondsSince(t: Long): Double = (System.nanoTime() - t) / 1e9

  private def session(cpus: Int): SparkSession = {
    val s = graft.Bench.buildSession(cpus.toString)
    s.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Builds the session [[SetupRounds]] times, each time followed by the
    * workload's own set-up, and reports the median round as `setup_s`.
    * The previous round's session is stopped, and its garbage collected,
    * before the clock starts, so every round starts from the same state.
    * Returns the last session, which the measured work then uses.
    */
  private def setup(a: Args, trace: Trace, res: Result)(round: SparkSession => Unit): SparkSession = {
    var spark: SparkSession = null
    val times = (1 to SetupRounds).map { i =>
      if (spark != null) { stopSession(spark); System.gc() }
      val t = System.nanoTime()
      trace.span(s"setup.$i") {
        spark = trace.span("session.build")(session(a.cpus))
        round(spark)
      }
      secondsSince(t)
    }
    res.put("setup_s", median(times), "s")
    res.samples("setup_s") = times.length
    res.detail("setup_s") = times
    res.put("operators.first_touch_s", times.head - median(times.tail), "s")
    spark
  }

  private def dir(a: Args, name: String): Path = {
    val d = a.work.resolve(name)
    Files.createDirectories(d)
    d
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toSeq.reverse
    all.foreach(Files.delete)
  }

  private def loadTokens(spark: SparkSession, path: Path): DataFrame = {
    val t = spark.read.schema(tokenSchema).json(path.toString).cache()
    t.count()
    t
  }

  /** `NesConfig.pipeline` over a streaming source plus the analysis of its plan, in ms. */
  private def pipelineBuildMs(spark: SparkSession, in: Path, tokens: DataFrame): Double = {
    val t = System.nanoTime()
    Config.pipeline(spark.readStream.schema(StreamJobs.logSchema).json(in.toString), Some(tokens))
      .queryExecution.analyzed
    secondsSince(t) * 1e3
  }

  final case class Drain(seconds: Double, out: Path, progress: Seq[StreamingQueryProgress])

  /** One catch-up replay of `in` through `NesConfig.runConfigured`. */
  private def drain(spark: SparkSession, in: Path, tokens: DataFrame, into: Path): Drain = {
    deleteTree(into)
    val out = into.resolve("out")
    val t = System.nanoTime()
    val q = NesConfig.runConfigured(spark, Config, in.toString, out.toString,
      into.resolve("ckpt").toString, Some(tokens))
    q.awaitTermination()
    Drain(secondsSince(t), out, q.recentProgress.toSeq.filter(_.numInputRows > 0))
  }

  private def durations(ps: Seq[StreamingQueryProgress], key: String): Seq[Double] =
    ps.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0))

  /** Per-batch engine timings (`NesConfig` and `sources` layers); each
    * batch also becomes a span.
    */
  private def batchLayers(res: Result, trace: Trace, ps: Seq[StreamingQueryProgress], lines: Long): Unit = {
    ps.foreach { p =>
      val st = java.time.Instant.parse(p.timestamp).toEpochMilli
      trace.add(s"NesConfig.batch.${p.batchId}", st, st + p.durationMs.get("triggerExecution").longValue())
    }
    val n = ps.length.max(1).toDouble
    def mean(key: String) = durations(ps, key).sum / n
    res.put("NesConfig.batches", ps.length, "count")
    res.put("NesConfig.rows_per_batch", ps.map(_.numInputRows).sum / n, "rows")
    res.put("NesConfig.query_planning_ms", mean("queryPlanning"), "ms")
    res.put("NesConfig.add_batch_ms", mean("addBatch"), "ms")
    res.put("NesConfig.wal_commit_ms", mean("walCommit"), "ms")
    res.put("NesConfig.commit_offsets_ms", mean("commitOffsets"), "ms")
    res.put("NesConfig.overhead_ms_per_batch", mean("triggerExecution") - mean("addBatch"), "ms")
    res.put("sources.rows_read_per_line", Model.ratio(ps.map(_.numInputRows).sum.toDouble, lines), "ratio")
    res.put("sources.latest_offset_ms", mean("latestOffset"), "ms")
    res.put("sources.get_batch_ms", mean("getBatch"), "ms")
  }

  /** Output files and bytes of a sink directory (`sink` layer). */
  private def sinkLayer(res: Result, out: Path, batches: Int, lines: Long): Unit = {
    val files = if (!Files.exists(out)) Seq.empty[Path]
      else Files.walk(out).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    res.put("sink.files_per_batch", Model.ratio(files.length, batches), "count")
    res.put("sink.bytes_per_line", Model.ratio(files.map(Files.size).sum.toDouble, lines), "B")
  }

  /** Engine counters of a traced unit of work (`operators` layer), per unit. */
  private def engineLayer(res: Result, probe: EngineProbe, units: Double, gapS: Double): Unit = {
    probe.drain()
    val s = probe.snapshot()
    val execs = s("executions").max(1)
    Seq("analysis", "optimization", "planning").foreach(p =>
      res.put(s"operators.${p}_ms", s(s"${p}_ms") / execs, "ms"))
    Seq("jobs", "stages", "tasks").foreach(k => res.put(s"operators.$k", s(k) / units, "count"))
    Seq("task_run_s", "task_cpu_s").foreach(k => res.put(s"operators.$k", s(k) / units, "s"))
    Seq("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes").foreach(k =>
      res.put(s"operators.$k", s(k) / units, "B"))
    res.put("operators.driver_gap_s", gapS / units, "s")
  }

  /** Stage self times: each prefix of the configured pipeline is read in
    * batch from `in` and written alone to the noop sink; a stage's self
    * time is its prefix's time minus that of the prefix it reads from
    * (the Kafka records and the flatten both read the filtered events).
    * Observations on the prefixes give the stage counts, which are
    * checked against the model. Returns the number of counts that
    * disagree with the model.
    */
  private def stageLayer(spark: SparkSession, in: Path, tokens: DataFrame, expected: Expected,
      lines: Long, reps: Int, trace: Trace, res: Result): Long = {
    val logs = spark.read.schema(StreamJobs.logSchema).json(in.toString)
    val isNep171 = col("standard") === "nep171" && col("event").isin("nft_mint", "nft_transfer")
    val observed = mutable.Map.empty[String, Double]
    /** Times the noop write of `df` (median of `reps`), observing `cols`. */
    def run(stage: String, df: DataFrame, cols: Column*): Double = {
      val times = (1 to reps).map { _ =>
        val ob = Observation(stage)
        val watched = df.observe(ob, cols.head, cols.tail: _*)
        val t = System.nanoTime()
        trace.span(s"EventStreams.$stage")(watched.write.format("noop").mode("overwrite").save())
        val dt = secondsSince(t)
        ob.get.foreach { case (k, v) => observed(k) = v.toString.toDouble }
        dt
      }
      median(times)
    }
    val extracted = EventStreams.extractEvents(logs)
    val valid = EventStreams.validated(extracted)
    val kept = EventStreams.filterContracts(valid, Config.whitelistContractIds, Config.blacklistContractIds)
    val main = EventStreams.toKafkaRecords(kept, Config.nearEventsTopicPrefix, Config.nearEventsAllTopic)
    val flat = EventStreams.flattenNep171(kept)
    val enriched = EventStreams.enrichMetadata(flat, tokens)
    val meta = EventStreams.metadataRecords(enriched, Config.nearEventsTopicPrefix)
    def rows(name: String) = count(lit(1)).as(name)
    def where(c: Column, name: String) = sum(when(c, 1).otherwise(0)).as(name)
    val times = Map(
      "extractEvents" -> run("extractEvents", extracted, rows("extracted"),
        where(col("standard").isNull && col("version").isNull && col("event").isNull, "unparsed")),
      "validated" -> run("validated", valid, rows("valid")),
      "filterContracts" -> run("filterContracts", kept, rows("kept"), where(isNep171, "nep171")),
      "toKafkaRecords" -> run("toKafkaRecords", main, rows("main")),
      "flattenNep171" -> run("flattenNep171", flat, rows("flat")),
      "enrichMetadata" -> run("enrichMetadata", enriched, rows("enriched"),
        where(col("title").isNotNull, "hits")),
      "metadataRecords" -> run("metadataRecords", meta, rows("meta")))
    val input = Map("validated" -> "extractEvents", "filterContracts" -> "validated",
      "toKafkaRecords" -> "filterContracts", "flattenNep171" -> "filterContracts",
      "enrichMetadata" -> "flattenNep171", "metadataRecords" -> "enrichMetadata")
    Stages.foreach { st =>
      res.put(s"EventStreams.$st.self_s", times(st) - input.get(st).map(times).getOrElse(0.0), "s")
    }
    val o = observed.withDefaultValue(0.0)
    val measured = Map(
      "EventStreams.extracted" -> o("extracted"),
      "EventStreams.invalid_unparsed" -> o("unparsed"),
      "EventStreams.invalid_name" -> (o("extracted") - o("valid") - o("unparsed")),
      "EventStreams.filtered_out" -> (o("valid") - o("kept")),
      "EventStreams.flat_rows" -> o("flat"),
      "EventStreams.fanout" -> Model.ratio(o("flat"), o("nep171")),
      "EventStreams.enrich_hit_ratio" -> Model.ratio(o("hits"), o("enriched")),
      "EventStreams.records_per_line" -> Model.ratio(o("main") + o("meta"), lines))
    val unit = Map("EventStreams.fanout" -> "ratio", "EventStreams.enrich_hit_ratio" -> "ratio",
      "EventStreams.records_per_line" -> "ratio").withDefaultValue("count")
    measured.foreach { case (k, v) => res.put(k, v, unit(k)); trace.count(k, v) }
    measured.count { case (k, v) => math.abs(v - expected.counts(k)) > 1e-9 }.toLong
  }

  // ---------------------------------------------------------------- backfill

  def backfill(a: Args, trace: Trace, res: Result): Unit = {
    val gen = new Gen(a.seed)
    val rows = gen.backfill(BackfillLines)
    val warmRows = gen.backfill(WarmLines, height0 = 90000000L)
    val dim = Gen.tokens(a.seed)
    val in = dir(a, "backfill_in")
    val warmIn = dir(a, "backfill_warm")
    Gen.writeLogs(in, rows, BackfillFiles)
    Gen.writeLogs(warmIn, warmRows, 2)
    val tokensPath = a.work.resolve("tokens.jsonl")
    Gen.writeJsonl(tokensPath, dim.map(_.toJson))
    val expected = new Model(dim, Config.blacklistContractIds.toSet).expect(rows)

    var tokens: DataFrame = null
    val buildMs = mutable.ArrayBuffer.empty[Double]
    var spark = setup(a, trace, res) { s =>
      tokens = trace.span("tokens.load")(loadTokens(s, tokensPath))
      buildMs += trace.span("NesConfig.pipeline")(pipelineBuildMs(s, in, tokens))
      trace.span("warmup.drain")(drain(s, warmIn, tokens, a.work.resolve("warm_run")))
    }
    res.put("NesConfig.pipeline_build_ms", median(buildMs.toSeq), "ms")

    val run = a.work.resolve("run")
    def checked(d: Drain): Unit = {
      res.attempted += expected.records
      res.failed += trace.span("check")(Check.errors(expected.hashes, Check.sinkHashes(spark, d.out.toString)))
    }
    def attempt(): Option[Drain] =
      try Some(trace.span("drain")(drain(spark, in, tokens, run)))
      catch { case e: Exception =>
        System.err.println(s"[perfbench] drain failed: $e")
        res.attempted += expected.records; res.failed += expected.records + 1; None
      }
    // one untimed drain of the whole backlog lets the JIT settle before timing
    trace.span("warmup.full")(attempt()).foreach(checked)
    val drains = mutable.ArrayBuffer.empty[Drain]
    while (drains.length < MinDrains || drains.map(_.seconds).sum < a.seconds) {
      attempt().foreach { d => drains += d; checked(d) }
      if (drains.isEmpty && res.failed > 0) throw new IllegalStateException("backfill drain failed")
    }
    val secs = drains.map(_.seconds).toSeq
    res.put("throughput_per_s", median(secs.map(rows.length / _)), "1/s")
    res.put("latency_p50_ms", median(secs) * 1e3, "ms")
    res.samples("drains") = secs.length
    res.detail("drain_s") = secs
    res.samples("lines") = rows.length
    res.samples("records") = expected.records

    if (a.trace) {
      val probe = new EngineProbe(spark).attach()
      val t0 = System.currentTimeMillis()
      val d = attempt().get
      val t1 = System.currentTimeMillis()
      probe.drain()
      engineLayer(res, probe, 1, (t1 - t0 - probe.busyMs(t0, t1)) / 1e3)
      probe.detach()
      checked(d)
      res.put("trace.overhead", d.seconds / median(secs), "ratio")
      batchLayers(res, trace, d.progress, rows.length)
      res.put("sources.lag_lines_max", rows.length, "lines")
      sinkLayer(res, d.out, d.progress.length, rows.length)
      res.failed += trace.span("EventStreams.stages")(
        stageLayer(spark, in, tokens, expected, rows.length, 3, trace, res))
      // single-threaded baseline: the same drain on local[1]
      stopSession(spark)
      spark = session(1)
      tokens = loadTokens(spark, tokensPath)
      drain(spark, warmIn, tokens, a.work.resolve("warm_run"))
      val one = trace.span("drain.local1")(drain(spark, in, tokens, run))
      checked(one)
      res.put("backfill.speedup_1c", one.seconds / median(secs), "ratio")
    }
    stopSession(spark)
  }

  // ---------------------------------------------------------------- live_tail

  final case class LiveRun(dueMs: Array[Long], startedMs: Array[Long], writtenMs: Array[Long],
      stamped: Vector[LogRow], fileLines: Int, out: Path, ckpt: Path,
      progress: Seq[StreamingQueryProgress])

  /** The open loop: a generator thread writes one file of `LiveRate *
    * TickMs / 1000` lines per tick on a fixed schedule, never waiting for
    * the pipeline, and stamps each line's `block_timestamp` with the
    * file's due time; the pipeline runs under a [[TriggerMs]] processing-
    * time trigger with the per-topic parquet sink of `runConfigured`.
    * Spark starts such batches on multiples of the interval, and the ticks
    * start 100 ms after one, so every batch admits files of the same
    * ages and the run-to-run spread of latency is that of the batches'
    * own cost, not of where the schedule happened to fall.
    */
  private def liveRun(spark: SparkSession, rows: Vector[LogRow], tokens: DataFrame, into: Path): LiveRun = {
    deleteTree(into)
    val in = into.resolve("in"); val staging = into.resolve("staging")
    val out = into.resolve("out"); val ckpt = into.resolve("ckpt")
    Files.createDirectories(in); Files.createDirectories(staging)
    val perTick = LiveRate * TickMs / 1000
    val ticks = rows.length / perTick
    val logs = spark.readStream.schema(StreamJobs.logSchema).json(in.toString)
    val q = Config.pipeline(logs, Some(tokens)).writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(TriggerMs.toLong))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").partitionBy("topic").parquet(out.toString)
      }
      .start()
    val t0 = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs + 100
    val due = Array.tabulate(ticks)(i => t0 + i.toLong * TickMs)
    val started = new Array[Long](ticks)
    val written = new Array[Long](ticks)
    val stamped = new Array[Vector[LogRow]](ticks)
    val generator = new Thread(() => {
      for (i <- 0 until ticks) {
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        started(i) = System.currentTimeMillis()
        val lines = rows.slice(i * perTick, (i + 1) * perTick).map(_.copy(blockTimestamp = due(i) * 1000000L))
        stamped(i) = lines
        val name = f"tick-$i%05d.jsonl"
        Gen.writeJsonl(staging.resolve(name), lines.map(_.toJson))
        Files.move(staging.resolve(name), in.resolve(name), StandardCopyOption.ATOMIC_MOVE)
        written(i) = System.currentTimeMillis()
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()
    q.processAllAvailable()
    q.stop()
    LiveRun(due, started, written, stamped.toVector.flatten, perTick, out, ckpt,
      q.recentProgress.toSeq.filter(_.numInputRows > 0))
  }

  /** The file source's log: input file name -> the batch that admitted it. */
  private def admittedBy(ckpt: Path): Map[String, Long] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val logDir = ckpt.resolve("sources").resolve("0")
    Files.list(logDir).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala.filter(_.startsWith("{")))
      .map { l =>
        val n = mapper.readTree(l)
        val p = n.get("path").asText()
        p.substring(p.lastIndexOf('/') + 1) -> n.get("batchId").asLong()
      }.toMap
  }

  /** Live figures over the steady window. `serviceRate` is lines admitted
    * by the window's batches over their summed `triggerExecution` time (the
    * rate the pipeline processes at while busy); `deliveredRate` is the
    * slope of delivered lines against commit time, which equals the offered
    * rate while the pipeline keeps up.
    */
  final case class LiveStats(serviceRate: Double, deliveredRate: Double, p50: Double, p99: Double,
      samples: Long, window: Seq[StreamingQueryProgress], lagMax: Double, genLateMs: Double,
      windowLines: Long, admittedLines: Long)

  private def liveStats(r: LiveRun, expected: Expected, seconds: Int): LiveStats = {
    val commit: Map[Long, Long] = r.progress.map(p =>
      p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").longValue())).toMap
    val batchOf = admittedBy(r.ckpt)
    val ticks = r.dueMs.indices
    val tickBatch = ticks.map(i => batchOf(f"tick-$i%05d.jsonl"))
    val winStart = r.dueMs(0) + LiveWarmInMs
    val winEnd = winStart + seconds * 1000L
    val steady = ticks.filter(i => r.dueMs(i) >= winStart && r.dueMs(i) < winEnd)
    val recordsOfTick = ticks.map(i =>
      expected.recordsPerLine.slice(i * r.fileLines, (i + 1) * r.fileLines).sum.toLong)
    val lat = steady.map(i => ((commit(tickBatch(i)) - r.dueMs(i)).toDouble, recordsOfTick(i)))
    // delivered lines against commit time, over the batches committed in
    // the steady window: the slope is the delivered rate
    val linesOfBatch = ticks.groupBy(tickBatch).view.mapValues(_.length.toLong * r.fileLines).toMap
    val batches = commit.keys.toSeq.sorted
    val cumulative = batches.scanLeft(0L)((acc, b) => acc + linesOfBatch.getOrElse(b, 0L)).tail
    val inWindow = batches.zip(cumulative).filter { case (b, _) => commit(b) >= winStart && commit(b) <= winEnd }
    val points = inWindow.map { case (b, c) => (commit(b).toDouble, c.toDouble) }
    val slope =
      if (points.length < 2) 0.0
      else {
        val mx = points.map(_._1).sum / points.length
        val my = points.map(_._2).sum / points.length
        points.map { case (x, y) => (x - mx) * (y - my) }.sum /
          points.map { case (x, _) => (x - mx) * (x - mx) }.sum * 1e3
      }
    // lines written but not yet admitted, as each batch commits
    val lag = inWindow.map { case (b, c) =>
      (ticks.count(i => r.writtenMs(i) <= commit(b)).toLong * r.fileLines - c).toDouble
    }
    val windowBatches = r.progress.filter(p => commit(p.batchId) >= winStart && commit(p.batchId) <= winEnd)
    val admitted = windowBatches.map(p => linesOfBatch.getOrElse(p.batchId, 0L)).sum
    val busyS = durations(windowBatches, "triggerExecution").sum / 1e3
    LiveStats(Model.ratio(admitted.toDouble, busyS), slope, weightedPercentile(lat, 50),
      weightedPercentile(lat, 99), lat.map(_._2).sum, windowBatches, if (lag.isEmpty) 0.0 else lag.max,
      ticks.map(i => (r.startedMs(i) - r.dueMs(i)).toDouble).max, steady.length.toLong * r.fileLines, admitted)
  }

  def live(a: Args, trace: Trace, res: Result): Unit = {
    val gen = new Gen(a.seed)
    val rows = gen.live(LiveRate * (LiveWarmInMs + a.seconds * 1000) / 1000)
    val warmRows = gen.live(WarmLines, height0 = 190000000L)
    val dim = Gen.tokens(a.seed)
    val warmIn = dir(a, "live_warm")
    Gen.writeLogs(warmIn, warmRows, 2)
    val backlogIn = dir(a, "live_backlog")
    Gen.writeLogs(backlogIn, gen.live(BackfillLines, height0 = 180000000L), BackfillFiles)
    val tokensPath = a.work.resolve("tokens.jsonl")
    Gen.writeJsonl(tokensPath, dim.map(_.toJson))

    var tokens: DataFrame = null
    val buildMs = mutable.ArrayBuffer.empty[Double]
    val spark = setup(a, trace, res) { s =>
      tokens = trace.span("tokens.load")(loadTokens(s, tokensPath))
      buildMs += trace.span("NesConfig.pipeline")(pipelineBuildMs(s, warmIn, tokens))
      trace.span("warmup.drain")(drain(s, warmIn, tokens, a.work.resolve("warm_run")))
    }
    res.put("NesConfig.pipeline_build_ms", median(buildMs.toSeq), "ms")
    // an untimed drain of a live-mix backlog warms the per-row paths
    trace.span("warmup.full")(drain(spark, backlogIn, tokens, a.work.resolve("warm_run")))

    /** One open-loop run; with a probe, the engine layer is read from
      * the run's batches before the output check adds jobs of its own.
      */
    def measured(into: Path, probe: Option[EngineProbe]): (LiveRun, LiveStats, Expected) = {
      val r = trace.span("live.run")(liveRun(spark, rows, tokens, into))
      probe.foreach { engine =>
        engine.drain()
        val gap = r.progress.map { p =>
          val st = java.time.Instant.parse(p.timestamp).toEpochMilli
          val dur = p.durationMs.get("triggerExecution").longValue()
          dur - engine.busyMs(st, st + dur)
        }.sum / 1e3
        engineLayer(res, engine, r.progress.length.max(1), gap)
        engine.detach()
      }
      val expected = new Model(dim, Config.blacklistContractIds.toSet).expect(r.stamped)
      res.attempted += expected.records
      res.failed += trace.span("check")(Check.errors(expected.hashes, Check.sinkHashes(spark, r.out.toString)))
      (r, liveStats(r, expected, a.seconds), expected)
    }
    val (_, s, _) = measured(a.work.resolve("live_run"), None)
    res.put("throughput_per_s", s.serviceRate, "1/s")
    res.put("latency_p50_ms", s.p50, "ms")
    res.put("live.p99_ms", s.p99, "ms")
    res.put("live.gen_late_ms", s.genLateMs, "ms")
    res.put("live.keepup", s.deliveredRate / LiveRate, "ratio")
    res.samples("latency_records") = s.samples
    res.samples("window_batches") = s.window.length
    res.samples("window_lines") = s.windowLines
    res.samples("window_admitted_lines") = s.admittedLines
    res.detail("batch_ms") = s.window.map(_.durationMs.get("triggerExecution").doubleValue())

    if (a.trace) {
      val (r, ts, expected) = measured(a.work.resolve("live_traced"), Some(new EngineProbe(spark).attach()))
      res.put("trace.overhead", Model.ratio(ts.p50, s.p50), "ratio")
      batchLayers(res, trace, ts.window, ts.windowLines)
      res.put("sources.lag_lines_max", ts.lagMax, "lines")
      sinkLayer(res, r.out, r.progress.length, r.stamped.length)
      res.failed += trace.span("EventStreams.stages")(
        stageLayer(spark, r.out.getParent.resolve("in"), tokens, expected, r.stamped.length, 1, trace, res))
    }
    stopSession(spark)
  }
}
