package graft.tools

import java.nio.file.{Files, Paths}

/** Per-operator shuffle budget (VERDICT r9 #5): counts Exchange nodes
  * in each batch operator's initial physical plan and generates
  * docs/SHUFFLES.md. ShuffleBudgetSpec recomputes the same counts and
  * fails on any operator whose count GREW vs the committed table —
  * the explode-trap / stage-reuse regression class (dd20, dd33, dd44,
  * tx11, dd27/dd32) is exactly a shuffle/stage-count diff, so this
  * pins it the way PlanAudit pins plan shapes.
  *
  * Counts are plan-shape properties (independent of core count and
  * AQE runtime re-planning — the initial plan is what the lint sees
  * on both sides). Streaming-lane operators are excluded: building
  * their result frame executes the stream, and the returned frame is
  * a sink read whose plan is not the budgeted pipeline.
  *
  * Usage: runMain graft.tools.ShuffleProbe [sfDir] [outFile]
  * Defaults: /root/testdata/sf0.001 (the spec's corpus) and
  * docs/SHUFFLES.md; SPARK_GRAFT_CPUS unset (4) is the spec session.
  */
object ShuffleProbe {

  /** (shuffle exchanges, broadcast exchanges) in a frame's initial plan. */
  def countPlan(df: org.apache.spark.sql.DataFrame): (Int, Int) =
    countPlan(df.queryExecution.executedPlan.toString)

  /** (shuffle exchanges, broadcast exchanges) in a physical plan string. */
  def countPlan(plan: String): (Int, Int) =
    ("Exchange (hash|range|RoundRobin|Single)".r.findAllIn(plan).size,
      "BroadcastExchange".r.findAllIn(plan).size)

  /** Batch-lane operator names (streaming excluded — see scaladoc). */
  def batchOps: Seq[String] =
    graft.SparkEntry.queries.keys.toSeq.sorted
      .filterNot(graft.Bench.StreamingLane.contains)

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "docs/SHUFFLES.md"
    // the spec harness's session, so the committed table is the one
    // ShuffleBudgetSpec checks against
    val spark = graft.Bench.buildSession(graft.Bench.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val rows = batchOps.map { name =>
      val (sh, bc) = countPlan(graft.SparkEntry.queries(name)(spark, d))
      (name, sh, bc)
    }
    val sb = new StringBuilder
    sb ++= "# Shuffle budget (generated — graft.tools.ShuffleProbe)\n\n"
    sb ++= s"Initial-plan Exchange counts per batch operator at $d.\n"
    sb ++= "ShuffleBudgetSpec fails any operator whose shuffle count\n"
    sb ++= "GROWS vs this table; regenerate after an intentional change:\n"
    sb ++= "`sbt \"runMain graft.tools.ShuffleProbe\"`.\n\n"
    sb ++= "| operator | shuffles | broadcasts |\n| --- | --- | --- |\n"
    rows.foreach { case (n, s, b) => sb ++= s"| $n | $s | $b |\n" }
    sb ++= s"\nTotal: ${rows.map(_._2).sum} shuffles, ${rows.map(_._3).sum} " +
      s"broadcasts across ${rows.size} batch operators; " +
      s"max per operator ${rows.map(_._2).max}.\n"
    Files.writeString(Paths.get(out), sb.toString)
    rows.sortBy(-_._2).take(12).foreach { case (n, s, b) => println(s"SHUF $n $s $b") }
    println(s"SHUF_MAX ${rows.map(_._2).max} TOTAL ${rows.map(_._2).sum} WROTE $out")
    spark.stop()
  }
}
