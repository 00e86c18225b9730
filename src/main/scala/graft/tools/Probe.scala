package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Bench
import graft.streaming.StreamJobs

/** Per-query probe (dev tool): one timed noop run of each selected
  * query under the bench session contract, printed as ONE JSON line
  * per query with
  *  - `sec`, `us_per_event` (wall time over the corpus' event count)
  *    and `out_rows` (counted outside the timing — the empty-result
  *    tripwire: a stream that read zero events must not pass as fast);
  *  - the stage census: stage count, summed stage ms, the slowest
  *    stages, and long stages with ONE task (a single-row-group scan
  *    pins any narrow compute stage to one core unless the operator
  *    scatters);
  *  - for streaming queries, the engine's per-batch `durationMs`
  *    breakdown ([[StreamJobs.lastRunDurations]]) and the drained
  *    query's state rows and bytes ([[StreamJobs.lastStateMetrics]];
  *    -1 when the query keeps no state).
  * A failed query prints `{"query":…,"error":…}` and the run goes on.
  *
  * The memory-sink snapshot operators ship their pre-census rows to
  * the driver, which exceeds Spark's 1g `spark.driver.maxResultSize`
  * on large ladder corpora, so this tool alone raises it to
  * SPARK_GRAFT_MAX_RESULT (default 4g).
  *
  * Usage: runMain graft.tools.Probe <sfDir> [prefix,…]
  * (no prefixes = every query; cores from SPARK_GRAFT_CPUS).
  */
object Probe {
  type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val prefixes = args.lift(1).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    // SparkConf reads spark.* system properties, so this reaches the
    // session buildSession creates without widening the shared contract
    System.setProperty("spark.driver.maxResultSize",
      sys.env.getOrElse("SPARK_GRAFT_MAX_RESULT", "4g"))
    val spark = Bench.buildSession(Bench.cpus)
    val selected = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }
    Bench.warmupLoop(spark, dir, 20000L)
    run(spark, dir, selected)(println)
    spark.stop()
  }

  /** Probes `queries` in order, handing each query's line to `emit`. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[(String, Query)])(
      emit: String => Unit): Unit = {
    val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
    val stages = new ConcurrentLinkedQueue[(Int, Int, Long)]() // id, tasks, ms
    val census = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s)
          .getOrElse(-1L)
        stages.add((si.stageId, si.numTasks, ms))
      }
    }
    // stage events reach the listener asynchronously
    def drained(): Seq[(Int, Int, Long)] = {
      Thread.sleep(300)
      val ss = stages.asScala.toSeq
      stages.clear()
      ss
    }
    spark.sparkContext.addSparkListener(census)
    try queries.foreach { case (name, fn) =>
      drained() // the previous query's row count
      StreamJobs.lastRunDurations = Nil
      StreamJobs.lastStateMetrics = None
      var out: DataFrame = null
      val sample = Bench.sampleQuery(spark, sfDir, name, (s, d) => { out = fn(s, d); out })
      val ran = drained()
      emit(sample.map { sec =>
        val (stateRows, stateBytes) = StreamJobs.lastStateMetrics.getOrElse((-1L, -1L))
        line(name, sec, nEvents, out.count(), ran, StreamJobs.lastRunDurations,
          stateRows, stateBytes)
      }.recover { case e: Throwable =>
        val msg = Option(e.getMessage).map(_.take(120)).getOrElse(e.getClass.getName)
        s"""{"query":"${Bench.esc(name)}","error":"${Bench.esc(msg)}"}"""
      }.get)
      StreamJobs.cleanupFileSnapshots()
    } finally spark.sparkContext.removeSparkListener(census)
  }

  private def line(name: String, sec: Double, nEvents: Long, outRows: Long,
      stages: Seq[(Int, Int, Long)], batches: Seq[(Long, Map[String, Long])],
      stateRows: Long, stateBytes: Long): String = {
    def r(v: Double, p: Int) = BigDecimal(v).setScale(p, BigDecimal.RoundingMode.HALF_UP)
    val top = stages.sortBy(-_._3).take(5)
      .map { case (id, tasks, ms) => s"""{"stage":$id,"tasks":$tasks,"ms":$ms}""" }
    val singleTaskHot = stages.filter(s => s._2 == 1 && s._3 >= 100).sortBy(-_._3).take(5)
      .map { case (id, _, ms) => s"""{"stage":$id,"ms":$ms}""" }
    val batchJson = batches.map { case (id, m) =>
      (s""""batch":$id""" +: m.toSeq.sortBy(-_._2).map { case (k, v) => s""""$k":$v""" })
        .mkString("{", ",", "}")
    }
    s"""{"query":"${Bench.esc(name)}","sec":${r(sec, 3)},""" +
      s""""us_per_event":${r(sec * 1e6 / math.max(nEvents, 1L), 2)},"out_rows":$outRows,""" +
      s""""n_stages":${stages.size},"stage_ms":${stages.map(_._3).sum},""" +
      s""""top":${top.mkString("[", ",", "]")},"single_task_hot":${singleTaskHot.mkString("[", ",", "]")},""" +
      s""""batches":${batchJson.mkString("[", ",", "]")},"state_rows":$stateRows,"state_bytes":$stateBytes}"""
  }
}
