package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counts recorded at the layer boundaries the benchmark
  * crosses (its own calls into graft and Spark), kept in memory and
  * written as one JSON file at the end. With tracing off nothing is
  * recorded, but [[span]] still returns the value it wraps.
  */
final class Trace(val enabled: Boolean) {
  private final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private val open = mutable.Stack[Int](0)
  private var nextId = 1
  private val t0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()

  /** Runs `f` inside a span named `name`, child of the innermost open span. */
  def span[T](name: String)(f: => T): T = {
    if (!enabled) return f
    val id = nextId; nextId += 1
    val parent = open.top
    val start = System.nanoTime()
    open.push(id)
    try f finally {
      open.pop()
      spans += Span(id, name, parent, start - t0, System.nanoTime() - t0)
    }
  }

  /** Records a span timed elsewhere (epoch ms), such as a micro-batch
    * from its progress event, as a child of the innermost open span.
    */
  def add(name: String, startMs: Long, endMs: Long): Unit = if (enabled) {
    spans += Span(nextId, name, open.top, (startMs - wall0) * 1000000L, (endMs - wall0) * 1000000L)
    nextId += 1
  }

  def count(name: String, v: Double): Unit = if (enabled) counts(name) = counts.getOrElse(name, 0.0) + v

  def write(path: Path): Unit = if (enabled) {
    val body = Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6)),
      "counts" -> counts)
    Files.write(path, Json.render(body).getBytes(UTF_8))
  }
}

/** Spark-side counters for one unit of traced work: jobs, stages and
  * tasks with their task metrics (a `SparkListener`), and Catalyst phase
  * times of every executed query (a `QueryExecutionListener` reading
  * `QueryExecution.tracker`).
  */
final class EngineProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobStart = mutable.Map.empty[Int, Long]
  /** Closed job intervals (start, end) in epoch ms. */
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)]
  val totals = mutable.LinkedHashMap(
    "stages" -> 0.0, "tasks" -> 0.0, "task_run_s" -> 0.0, "task_cpu_s" -> 0.0,
    "shuffle_write_bytes" -> 0.0, "shuffle_read_bytes" -> 0.0, "spill_bytes" -> 0.0,
    "executions" -> 0.0, "analysis_ms" -> 0.0, "optimization_ms" -> 0.0, "planning_ms" -> 0.0)

  private def add(k: String, v: Double): Unit = totals(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStart(e.jobId) = e.time }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { add("stages", 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_s", m.executorRunTime / 1e3)
      add("task_cpu_s", m.executorCpuTime / 1e9)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    add("executions", 1)
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      phases.get(p).foreach(s => add(s"${p}_ms", s.durationMs.toDouble))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Waits until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Milliseconds within [from, to] during which at least one job ran. */
  def busyMs(from: Long, to: Long): Long = synchronized {
    val iv = jobs.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e } else curE = math.max(curE, e)
    }
    busy + (curE - curS)
  }

  def snapshot(): Map[String, Double] = synchronized {
    totals.toMap + ("jobs" -> jobs.length.toDouble)
  }
}
