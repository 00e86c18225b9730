package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamReader, DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import java.sql.Timestamp

/** Structured-Streaming jobs: the reference's continuous behaviors
  * (block stats, per-key state, exactly-once delivery to topics)
  * as streaming queries.
  *
  * Scale: every job keys state by a high-cardinality column and uses
  * watermarks so state is bounded; sinks are partitioned file-sink
  * commits or, on a cluster, per-topic Kafka producers. Each stateful
  * rule is a pure fold over plain values ([[advanceSessions]],
  * [[admit]]) that the v1 operators here and the v2 processors in
  * [[StateV2]] both call.
  */
object StreamJobs {

  /** stats.rs:23-77 stats_logger: blocks-processed per interval +
    * processing rate, as a watermarked tumbling-window aggregation.
    */
  def windowedStats(events: DataFrame, tsCol: String, intervalSec: Int = 10): DataFrame =
    events
      .withWatermark(tsCol, "1 minute")
      .groupBy(window(col(tsCol), s"$intervalSec seconds").as("win"))
      .agg(count(lit(1)).as("blocks_processed"))
      .select(
        col("win.start").as("window_start"),
        col("blocks_processed"),
        (col("blocks_processed") / lit(intervalSec.toDouble)).as("blocks_per_sec"))

  /** Streaming dedup-by-key within the watermark (reference keys every
    * Kafka record by contract id; repeated deliveries collapse).
    */
  def dedupWithinWatermark(events: DataFrame, keyCols: Seq[String],
      tsCol: String, watermark: String = "1 minute"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Stream-stream interval join: enrich a fact stream with a second
    * stream's rows within a time bound (both sides watermarked so
    * state is bounded — the scalable form of the reference's
    * cross-topic correlation).
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      key: String, leftTs: String, rightTs: String,
      watermark: String, boundSec: Long): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      l(key) === r(key) &&
      r(rightTs) >= l(leftTs) &&
      r(rightTs) <= l(leftTs) + org.apache.spark.sql.functions.expr(s"INTERVAL $boundSec SECONDS"))
  }

  case class SessionEvent(user_id: Long, ts: Timestamp)
  case class SessionState(start: Long, last: Long, n: Long) {
    def close(user: Long): SessionOut = SessionOut(user, n, last - start)
  }
  case class SessionOut(user_id: Long, n_events: Long, duration_sec: Long)

  /** The gap-session fold both engines run: advance a key's open
    * session (if any) by one batch of event seconds, in time order,
    * returning the new open session and the sessions a successor
    * closed. Pure over plain values, so v1↔v2 parity is structural.
    */
  def advanceSessions(open: Option[SessionState], user: Long, secs: Seq[Long],
      gapSec: Long): (SessionState, Seq[SessionOut]) =
    secs.sorted.foldLeft((open.getOrElse(SessionState(-1, -1, 0)), Vector.empty[SessionOut])) {
      case ((cur, closed), t) =>
        if (cur.start < 0) (SessionState(t, t, 1), closed)
        else if (t - cur.last > gapSec) (SessionState(t, t, 1), closed :+ cur.close(user))
        else (cur.copy(last = t, n = cur.n + 1), closed)
    }

  /** Gap-based sessionization with explicit state — the streaming twin
    * of batch ev09. Uses a processing-time timeout of one gap so an
    * idle key's final session is emitted and its state REMOVED —
    * without the timeout, state grows with every key ever seen and the
    * last session per key never flushes. (Batch runs invoke each key
    * once and never time out; there the trailing open session is
    * intentionally held back, matching the reference's behavior of
    * only emitting completed work.)
    */
  def sessionize(events: Dataset[SessionEvent], gapSec: Long = 1800,
      flushIdle: Boolean = true): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    // flushIdle=false turns off the processing-time timeout: pending
    // timers keep an AvailableNow run alive past its data (the
    // timeout batch is ~gap of WALL time away), so bounded replays —
    // the oracle-gated ev51 — run with NoTimeout and deliberately
    // hold back each key's trailing open session, the same
    // "completed work only" cut the batch invocation produces.
    val timeout =
      if (flushIdle) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, timeout) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // idle key: close and evict
            val st = state.get
            state.remove()
            Iterator.single(st.close(user))
          } else {
            val (st, closed) = advanceSessions(
              state.getOption, user, rows.map(_.ts.getTime / 1000).toSeq, gapSec)
            state.update(st)
            if (flushIdle) {
              try state.setTimeoutDuration(gapSec * 1000)
              catch { case _: UnsupportedOperationException => () } // batch: no timeouts
            }
            closed.iterator
          }
      }
  }

  /** `events.parquet` as a file stream with the `ts` encoding fixed
    * up (raw long nanos or TIMESTAMP_NTZ, depending on which
    * testdata generation wrote the file) — the streaming twin of
    * [[graft.core.Tables.events]].
    */
  def eventsFileStream(s: SparkSession, d: String): DataFrame = {
    val schema = s.read.parquet(s"$d/events.parquet").schema
    // Two corpus layouts exist: the driver's testdata has
    // events.parquet as a single FILE (a file source needs a
    // directory, so stream the parent with a glob), while
    // Spark-written corpora (the ScaleData ladder rungs, any lake
    // deployment) have it as a DIRECTORY of part files — where the
    // old file-glob matched NOTHING and every downstream stream
    // silently processed zero events (the r12 sf10 stream legs read
    // 10M-event corpora in 2 s before this branch).
    // Layout is resolved through Hadoop's FileSystem, not java.io.File
    // (ADVICE r12): File.isDirectory only answers for the LOCAL fs, so
    // an HDFS/S3 corpus would fall to the glob branch and reintroduce
    // the silent zero-event bug on exactly the deployments the branch
    // exists for.
    val evPath = new org.apache.hadoop.fs.Path(s"$d/events.parquet")
    val isDir = evPath
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .getFileStatus(evPath).isDirectory
    val raw =
      if (isDir)
        s.readStream.schema(schema).parquet(s"$d/events.parquet")
      else
        s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d)
    schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Scratch dirs created by the snapshot drains and not yet
    * reclaimed. At ladder scale a file snapshot holds multi-GiB
    * parquet + checkpoint state, so leaking them across bench samples
    * fills /tmp (ADVICE r10); a shutdown hook sweeps whatever callers
    * didn't reclaim explicitly.
    */
  private val snapshotDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val snapshotHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => cleanupFileSnapshots()))
  }

  /** Delete every snapshot dir created so far. Safe once the frames
    * read from them are fully consumed (the next [[runFileSnapshot]]
    * call makes a fresh dir) — bench calls this between queries.
    */
  def cleanupFileSnapshots(): Unit =
    Iterator.continually(snapshotDirs.poll()).takeWhile(_ != null).foreach { p =>
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      } catch { case _: java.io.IOException => () }
    }

  /** Run `body` with the session confs set to `confs`, restoring each
    * previous value — including its absence — afterwards. Streaming
    * confs are captured at stream start, so a stream must start AND
    * terminate inside `body`.
    *
    * SINGLE-THREADED-SESSION ASSUMPTION: the values are session-global
    * while `body` runs, so a query planned concurrently on the same
    * session would see them, and concurrent calls could clobber each
    * other's restore. All call sites (the gated streaming queries,
    * specs) run queries sequentially on the session; isolating the
    * conf would need the SOURCE frame built on a cloned session.
    */
  def withConf[T](s: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Stateful-shuffle partitions of a snapshot drain (the r13
    * posture; r14 measured 1 vs 4 as a wash at sf0.1). Partition
    * count never changes WHAT a stateful operator computes (grouping
    * is by key, not by partition), only how many state stores hold it.
    */
  private val StateParts = 4

  /** The drain both snapshot runners share: run `df` to completion
    * under AvailableNow with its checkpoint in a fresh tracked scratch
    * dir under java.io.tmpdir, and return that dir. Shuffle partitions
    * are trimmed to [[StateParts]] for the stream only, and a plan
    * holding a `transformWithState` node runs on the RocksDB state
    * store the v2 engine requires ([[StateV2.RocksDb]]) — both through
    * [[withConf]], restored after termination (restoring right after
    * `start()` races with async micro-batch planning).
    */
  private def drain(df: DataFrame, prefix: String)(
      sink: (DataStreamWriter[Row], String) => DataStreamWriter[Row]): String = {
    snapshotHook
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    snapshotDirs.add(dir)
    val tws = df.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.TransformWithState])
    val confs = Seq("spark.sql.shuffle.partitions" -> StateParts.toString) ++
      Option.when(tws)(StateV2.RocksDb)
    withConf(df.sparkSession, confs: _*) {
      val q = sink(df.writeStream, dir.toString)
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    dir.toString
  }

  /** Drain a streaming frame into a memory-sink snapshot and return
    * the snapshot table. The previous table of the same name is
    * dropped first — append-mode memory sinks accumulate across
    * restarts in one session.
    */
  def runMemorySnapshot(df: DataFrame, name: String, mode: String): DataFrame = {
    df.sparkSession.catalog.dropTempView(name)
    drain(df, "graft-msnap")((w, _) => w.format("memory").queryName(name).outputMode(mode))
    df.sparkSession.table(name)
  }

  /** Drain a streaming frame into a FILE-sink snapshot and read it
    * back — the scale-safe twin of [[runMemorySnapshot]] for
    * DATA-PROPORTIONAL append outputs. A memory sink collects every
    * micro-batch's rows to the driver (the r10 sf10 ladder killed
    * ev48 exactly there: 2.1 GiB of task results vs the 1 GiB
    * maxResultSize); the file sink keeps output distributed, which is
    * also the shape a production deployment has (files/Kafka, never
    * driver memory). Append mode only (the file sink's own
    * constraint — complete-mode aggregates are tiny and belong on the
    * memory sink).
    */
  def runFileSnapshot(df: DataFrame): DataFrame = {
    val dir = drain(df, "graft-fsnap")((w, dir) =>
      w.format("parquet").option("path", s"$dir/out").outputMode("append"))
    // zero-output streams leave no part files — the explicit schema
    // keeps the read valid either way
    df.sparkSession.read.schema(df.schema).parquet(s"$dir/out")
  }

  case class AsOfIn(k: Long, ts: Long, side: Int, v: Option[Double])
  case class AsOfCarry(ts: Long, v: Option[Double])
  case class AsOfOut(k: Long, ts: Long, asof_v: Option[Double])

  /** Streaming as-of enrichment: the [[graft.operators.AsOf]]
    * carry-forward as a stateful stream. State per key is ONE carried
    * version (O(keys) total, the bound the reference's in-memory
    * metadata cache has) — version rows (side=0) update it, fact rows
    * (side=1) emit with the carried value. Within a batch rows apply
    * in (ts, side) order, version-before-fact on ties, matching the
    * batch operator's inclusive `r.ts <= l.ts`.
    *
    * Contract: batches arrive in event-time order per key (the
    * watermark-ordered replay of a log); a version arriving after a
    * later fact was already emitted cannot retro-enrich it — exactly
    * the reference's behavior of enriching with the latest state KNOWN
    * AT DELIVERY TIME.
    */
  def streamAsOf(events: Dataset[AsOfIn]): Dataset[AsOfOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.k)
      .flatMapGroupsWithState[AsOfCarry, AsOfOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[AsOfIn], state: GroupState[AsOfCarry]) =>
          val (st, out) = rows.toSeq.sortBy(r => (r.ts, r.side))
            .foldLeft((state.getOption.getOrElse(AsOfCarry(Long.MinValue, None)),
              Vector.empty[AsOfOut])) {
              case ((c, out), r) if r.side == 0 =>
                (if (r.ts >= c.ts) AsOfCarry(r.ts, r.v) else c, out)
              case ((c, out), r) => (c, out :+ AsOfOut(k, r.ts, c.v))
            }
          state.update(st)
          out.iterator
      }
  }

  case class ChangeIn(k: Long, ts: Long, off: Long, op: String, v: Option[Double])
  case class ChangeState(ts: Long, off: Long, op: String, v: Option[Double])
  case class ChangeOut(k: Long, ts: Long, off: Long, op: String, v: Option[Double],
      live: Boolean)

  /** Streaming CDC compaction (the ev22 batch operator as a stateful
    * stream): state per key is the single latest record by (ts, off) —
    * O(keys) total, the bound a compacted Kafka topic holds — and each
    * batch emits the key's new compacted value. `op == "delete"` is a
    * tombstone: the key's emission carries `live = false` so a
    * downstream materializer drops it. The latest emission per key
    * (max (ts, off)) IS the compacted snapshot at any point — state is
    * monotone, late records older than the carried one never win.
    */
  def streamCompact(changes: Dataset[ChangeIn]): Dataset[ChangeOut] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.k)
      .flatMapGroupsWithState[ChangeState, ChangeOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: Long, rows: Iterator[ChangeIn], state: GroupState[ChangeState]) =>
          val carried = state.getOption
            .map(s => ChangeIn(k, s.ts, s.off, s.op, s.v)).iterator
          val latest = (carried ++ rows).maxBy(r => (r.ts, r.off))
          state.update(ChangeState(latest.ts, latest.off, latest.op, latest.v))
          // off rides along so a materializer can order emissions
          // under ts ties — "latest per key" means max (ts, off)
          Iterator.single(ChangeOut(k, latest.ts, latest.off, latest.op,
            latest.v, latest.op != "delete"))
      }
  }

  case class RateIn(user_id: Long, event_type: String, t: Long)
  case class RateState(recent: Seq[Long])
  case class RateOut(user_id: Long, event_type: String, t: Long, throttled: Boolean)

  /** Streaming admission control — the stateful twin of batch ev27,
    * with EXACT trailing-window semantics in O(limit) state per key.
    *
    * An event is throttled when its user's trailing `windowUs` window
    * (inclusive of the event) holds more than `limit` events. The
    * state keeps only the `limit` NEWEST timestamps: any timestamp
    * dropped for capacity is older than everything kept, so it can
    * only matter while ≥ limit kept ones are also in-window — and then
    * the decision is already "throttle". Exactness without unbounded
    * per-key growth is the property that makes this deployable: a
    * burst of millions of events per key still carries `limit` longs
    * of state.
    *
    * Events are processed in timestamp order within each micro-batch
    * (the per-batch sort mirrors how ev27's RANGE window orders the
    * batch world), and SAME-TIMESTAMP peers decide as one atomic
    * group: a RANGE frame's CURRENT ROW bound includes peer rows, so
    * k same-(user, t) events each see all k in their window — a
    * sequential fold would give the k-th peer a different count than
    * the batch frame. Cross-batch late data older than the state's
    * newest timestamp is counted against the window like any other
    * event — admission decisions are made in arrival order, as a live
    * limiter must.
    *
    * NoTimeout like streamAsOf/streamCompact: state is O(limit) longs
    * per key ever seen, the bound an admission-control table holds
    * anyway. (A ProcessingTimeTimeout would let idle keys evict, but
    * processing-time timers make the engine schedule no-data batches
    * continuously — sessionize pays that only because unbounded-gap
    * session state MUST flush; a fixed-size limiter doesn't.)
    */
  def rateLimit(events: Dataset[RateIn], limit: Int = 5,
      windowUs: Long = 86400000000L): Dataset[RateOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RateState, RateOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[RateIn], state: GroupState[RateState]) =>
          val (recent, out) = admit(state.getOption.map(_.recent).getOrElse(Nil),
            user, rows.toSeq, limit, windowUs)
          state.update(RateState(recent))
          out.iterator
      }
  }

  /** The admission fold both engines run (see [[rateLimit]]): decide
    * one batch of a user's events against the `recent` timestamps
    * kept so far, returning the newest `limit` timestamps to keep and
    * one decision per event. Pure over plain values.
    */
  def admit(recent: Seq[Long], user: Long, rows: Seq[RateIn], limit: Int,
      windowUs: Long): (Seq[Long], Seq[RateOut]) = {
    // runs of equal timestamps, in ascending t order (foldRight
    // builds the runs without reversing)
    val runs = rows.sortBy(_.t)
      .foldRight(List.empty[List[RateIn]]) { (e, acc) =>
        acc match {
          case (h :: t2) :: rest if h.t == e.t => (e :: h :: t2) :: rest
          case _ => List(e) :: acc
        }
      }
    runs.foldLeft((recent, Vector.empty[RateOut])) { case ((kept, out), peers) =>
      val t = peers.head.t
      val live = kept.filter(_ > t - windowUs)
      // the RANGE frame holds live + ALL k peers for each peer
      val throttled = live.size + peers.size > limit
      ((live ++ peers.map(_.t)).takeRight(limit),
        out ++ peers.map(e => RateOut(user, e.event_type, e.t, throttled)))
    }
  }

  /** configs.rs SyncModeSubCommand re-expressed as source positioning:
    * the reference resumes from interruption (checkpoint), from the
    * latest block, or from a given height — exactly Structured
    * Streaming's checkpoint/startingOffsets semantics.
    */
  sealed trait SyncMode
  object SyncMode {
    /** sync-from-interruption: resume from the checkpoint (no offset
      * override — the checkpoint wins when present). */
    case object FromInterruption extends SyncMode
    /** sync-from-latest: start at the stream head on first run. */
    case object FromLatest extends SyncMode
    /** sync-from-block --height: explicit per-partition offsets. */
    final case class FromOffsets(offsetsJson: String) extends SyncMode

    /** Source options implementing the mode (kafka source shown;
      * file sources only honor the checkpoint). */
    def sourceOptions(mode: SyncMode): Map[String, String] = mode match {
      case FromInterruption => Map.empty
      case FromLatest => Map("startingOffsets" -> "latest")
      case FromOffsets(json) => Map("startingOffsets" -> json)
    }
  }

  /** Kafka wiring (events.rs/configs.rs): source/sink option builders.
    * The kafka connector jar isn't in this container, so these return
    * configured readers/writers without starting them; on a cluster
    * with spark-sql-kafka on the classpath they run as-is.
    */
  object Kafka {
    def source(spark: SparkSession, bootstrap: String, topics: String,
        startingOffsets: String = "latest"): DataStreamReader =
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topics)
        .option("startingOffsets", startingOffsets)

    /** Sink for a [[EventStreams.toKafkaRecords]]-shaped frame: Kafka
      * routes each row by its `topic` column natively.
      */
    def sink(records: DataFrame, bootstrap: String, checkpoint: String): DataStreamWriter[org.apache.spark.sql.Row] =
      records
        .selectExpr("CAST(key AS STRING)", "CAST(value AS STRING)", "topic")
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("checkpointLocation", checkpoint)

    /** SASL_SSL client options from nes.toml-shaped config
      * (configs.rs NesConfig.kafka map → `kafka.`-prefixed options).
      */
    def clientOptions(conf: Map[String, String]): Map[String, String] =
      conf.map { case (k, v) => s"kafka.$k" -> v }
  }

  /** The (log, emit-info) ingress row shape — BlockSource.schema's
    * twin for file sources.
    */
  val logSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL("log STRING, receipt_id STRING, " +
      "block_timestamp BIGINT, block_height BIGINT, shard_id BIGINT, contract_account_id STRING")
}
