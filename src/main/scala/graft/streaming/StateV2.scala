package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming._

/** Spark 4 state API v2 (`transformWithState`) twins of the
  * [[StreamJobs]] stateful engines — the current-generation arbitrary
  * state surface (SPARK-49564): typed `ValueState`/`ListState`/
  * `MapState` handles instead of one opaque `GroupState` blob, timer
  * registration decoupled from input arrival, and per-state TTL.
  *
  * Why both engines exist in this library: `flatMapGroupsWithState`
  * is the long-stable API and stays the default for the gated lane;
  * the v2 engine is the one Spark is actively building on (state
  * data source, state repartitioning, per-column-family state) and is
  * the RIGHT long-term home for the reference's per-contract state
  * (events.rs keys every delivery by contract id). ev83/ev84 gate the
  * v2 engine against the same DuckDB replays as the v1 lane, and
  * StateV2Spec pins exact output parity between the two engines, so a
  * migration is provable rather than hopeful.
  *
  * Engine constraint: transformWithState requires the RocksDB state
  * store provider (the HDFS-backed heap provider does not support
  * multiple column families). The snapshot drains detect a
  * `transformWithState` node in the plan they drain and pin
  * [[RocksDb]] for the run; a stream started by hand wraps itself in
  * [[withRocksDb]].
  *
  * Each state fold is written once, in [[StreamJobs]], over plain
  * values; the processors here only move state between the fold and
  * their typed handles.
  *
  * Scale posture is unchanged from the v1 lane: state is keyed by a
  * high-cardinality column (user/contract id), O(1)-or-O(limit) per
  * key, and at 100 TB the RocksDB requirement is what production runs
  * anyway (docs/RUNBOOK.md §4).
  */
object StateV2 {
  import StreamJobs.{SessionEvent, SessionState, SessionOut, RateIn, RateOut}

  /** The state-store provider conf the v2 engine requires. */
  val RocksDb: (String, String) = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Pin [[RocksDb]] around `body` (see [[StreamJobs.withConf]]). */
  def withRocksDb[T](s: SparkSession)(body: => T): T = StreamJobs.withConf(s, RocksDb)(body)

  /** The [[StreamJobs.sessionize]] gap sessionizer on the v2 engine:
    * one `ValueState[SessionState]` per user, emissions = sessions a
    * successor event closed ([[StreamJobs.advanceSessions]]).
    *
    * Untimed (TimeMode.None) it is the bounded-replay cut the gated
    * ev83 runs: each key's trailing open session is held back, the
    * "completed work only" contract ev51 gates, and the session set is
    * batch-replayable independent of micro-batch boundaries.
    *
    * `timed` is the live-deployment variant: an EVENT-TIME timer at
    * `last + gap` closes and evicts an idle key's session when the
    * watermark passes it — the v2 answer to the v1 engine's
    * processing-time-timeout dilemma (pending wall-clock timers keep
    * an AvailableNow run alive; event-time timers ride the watermark,
    * so bounded replays terminate AND idle-in-the-data sessions still
    * flush). Input must carry a watermark.
    *
    * Seeded with initial state it is the v1→v2 migration target:
    * state dumped from a flatMapGroupsWithState checkpoint by
    * [[StateInspect]] loads into the v2 store before the first batch,
    * and processing continues as if the v1 job had never stopped
    * (StateInspectSpec proves emission-for-emission continuation
    * equality).
    */
  class SessionProcessor(gapSec: Long, timed: Boolean)
      extends StatefulProcessorWithInitialState[
        Long, SessionEvent, SessionOut, SessionState] {
    @transient private var st: ValueState[SessionState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessionState](
        "session", Encoders.product[SessionState], TTLConfig.NONE)

    override def handleInitialState(user: Long, s0: SessionState,
        timers: TimerValues): Unit = st.update(s0)

    override def handleInputRows(user: Long, rows: Iterator[SessionEvent],
        timers: TimerValues): Iterator[SessionOut] = {
      val (cur, closed) = StreamJobs.advanceSessions(
        Option.when(st.exists())(st.get()), user, rows.map(_.ts.getTime / 1000).toSeq, gapSec)
      st.update(cur)
      if (timed) {
        // one live timer per key: the session closes when the watermark
        // passes last + gap (timer values are event-time millis)
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer((cur.last + gapSec) * 1000L)
      }
      closed.iterator
    }

    override def handleExpiredTimer(user: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionOut] =
      if (st.exists()) {
        val cur = st.get()
        st.clear()
        Iterator.single(cur.close(user))
      } else Iterator.empty
  }

  def sessionizeTws(events: Dataset[SessionEvent], gapSec: Long = 1800,
      timed: Boolean = false): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState[SessionOut](new SessionProcessor(gapSec, timed),
        if (timed) TimeMode.EventTime() else TimeMode.None(), OutputMode.Append())
  }

  /** Continue sessionizing FROM migrated per-key state (see
    * [[SessionProcessor]]).
    */
  def sessionizeTwsFrom(events: Dataset[SessionEvent],
      initial: Dataset[(Long, SessionState)],
      gapSec: Long = 1800): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState[SessionOut, SessionState](
        new SessionProcessor(gapSec, timed = false), TimeMode.None(),
        OutputMode.Append(), initial.groupByKey(_._1).mapValues(_._2))
  }

  case class TypedEvent(user_id: Long, event_type: String, t: Long)
  case class FirstSeen(user_id: Long, event_type: String, first_us: Long)

  /** First occurrence of each (user, event_type) pair — `MapState`
    * keyed by event type holding the first-seen second. Emissions are
    * exactly the distinct pairs (O(|users| × |types|), bounded), each
    * carrying its first event time; late re-deliveries of a pair
    * never re-emit. The v2 MapState is the natural shape here: the v1
    * engine would force the whole per-user type map through one
    * GroupState blob on every event, where MapState reads/writes only
    * the touched type's entry.
    *
    * Batches must arrive in event-time order per key (the
    * watermark-ordered replay of a log — same contract as
    * [[StreamJobs.streamAsOf]]); within a batch rows apply in t
    * order, so "first" is deterministic for any batch slicing.
    */
  class FirstSeenProcessor
      extends StatefulProcessor[Long, TypedEvent, FirstSeen] {
    @transient private var seen: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getMapState[String, Long](
        "seen", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[TypedEvent],
        timers: TimerValues): Iterator[FirstSeen] = {
      val out = scala.collection.mutable.ListBuffer[FirstSeen]()
      rows.toSeq.sortBy(_.t).foreach { e =>
        if (!seen.containsKey(e.event_type)) {
          seen.updateValue(e.event_type, e.t)
          out += FirstSeen(user, e.event_type, e.t)
        }
      }
      out.iterator
    }
  }

  def firstSeenTws(events: Dataset[TypedEvent]): Dataset[FirstSeen] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState[FirstSeen](
        new FirstSeenProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** [[StreamJobs.rateLimit]] on the v2 engine: the O(limit) trailing
    * window as a `ListState[Long]` (clear + append instead of one
    * serialized Seq blob). Identical exact-window semantics —
    * same-timestamp peers decide as one atomic group; StateV2Spec
    * pins row-for-row parity with the v1 engine.
    */
  class RateLimitProcessor(limit: Int, windowUs: Long)
      extends StatefulProcessor[Long, RateIn, RateOut] {
    @transient private var recentState: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      recentState = getHandle.getListState[Long](
        "recent", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[RateIn],
        timers: TimerValues): Iterator[RateOut] = {
      val (recent, out) = StreamJobs.admit(recentState.get().toSeq, user, rows.toSeq,
        limit, windowUs)
      recentState.clear()
      recent.foreach(recentState.appendValue)
      out.iterator
    }
  }

  def rateLimitTws(events: Dataset[RateIn], limit: Int = 5,
      windowUs: Long = 86400000000L): Dataset[RateOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState[RateOut](
        new RateLimitProcessor(limit, windowUs), TimeMode.None(),
        OutputMode.Append())
  }
}
