package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dumps the formatted physical plan of every query (or of the named
  * ones) to stdout, in name order. The enforced plan claims live in
  * PlanAuditSpec and ShuffleBudgetSpec; this tool is for reading
  * shapes and for diffing two trees: its text carries no identity that
  * changes from run to run, so an unchanged tree dumps byte-identical.
  */
object PlanDump {

  /** Usage: runMain graft.tools.PlanDump [sfDir] [name...] — no names
    * dumps every query. The session is the bench contract at
    * SPARK_GRAFT_CPUS: a plan that depends on parallelism (the
    * size-aware scatterBy caps) must be dumped at the bench's core
    * count, or the cap clamps to the dump session's.
    */
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Bench.buildSession(graft.Bench.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"========== $name ==========")
      println(dump(spark, d, name))
    }
    spark.stop()
  }

  /** The formatted plan of `name` with run-dependent identities
    * replaced: expression ids, lambda variable ids, `plan_id`s and RDD
    * ids renumbered in order of first appearance; call sites, temp
    * directories and `@hash` object identities as fixed tokens.
    */
  def dump(spark: SparkSession, d: String, name: String): String =
    normalize(graft.SparkEntry.queries(name)(spark, d).queryExecution
      .explainString(ExplainMode.fromString("formatted")))

  private val Fixed = Seq(
    """ at [\w$.]+\.(?:scala|java):\d+""".r -> " at <callsite>",
    """(?:file:)?/tmp/[^\s,\]\)]*""".r -> "<tmpdir>",
    """@[0-9a-f]{4,}\b""".r -> "@<hash>")

  /** Each pattern's group 1 is a session-global counter value. */
  private val Counters = Seq("""#(\d+)""", """lambda [a-z]+_(\d+)""",
    """plan_id=(\d+)""", """RDD\[(\d+)\]""").map(_.r)

  def normalize(plan: String): String = {
    val fixed = Fixed.foldLeft(plan) { case (text, (re, token)) =>
      re.replaceAllIn(text, scala.util.matching.Regex.quoteReplacement(token))
    }
    Counters.foldLeft(fixed) { (text, re) =>
      val ids = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      re.replaceAllIn(text, m => {
        val n = ids.getOrElseUpdate(m.group(1), ids.size + 1)
        scala.util.matching.Regex.quoteReplacement(
          m.matched.substring(0, m.start(1) - m.start) + n + m.matched.substring(m.end(1) - m.start))
      })
    }
  }
}
