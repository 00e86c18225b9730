package graft

import scala.util.Try
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.ExplainMode

/** Every SparkEntry operator built and planned ONCE on the shared
  * spec session, for the inventory-wide plan sweeps (PlanAuditSpec,
  * ShuffleBudgetSpec). Building a streaming-lane frame runs its
  * stream, so rebuilding all 343 frames per sweep is the cost this
  * removes. A failing build fails only that operator's lookups.
  *
  * An operator's plan depends on the session's cache state: it reads
  * any barrier cache a preceding operator left alive (q73 plans 10
  * shuffles with q66's day table cached, 8 without). So the first
  * lookup plans every operator in ONE pass in graft.tools.ShuffleProbe's
  * order — from a clean cache, batch operators sorted, then the
  * streaming lane — and captures each plan right after its build, so
  * the committed docs/SHUFFLES.md and these sweeps see the same
  * plans. Nothing here executes a frame: an executed barrier cache
  * renders its AQE final plan next to the initial one, which doubles
  * the Exchange counts of every later plan that reads it.
  * QueriesSmokeSpec therefore builds and runs its own frames.
  */
object Inventory {
  final case class Built(optimized: LogicalPlan, physical: String, formatted: String)

  private var session: SparkSession = _
  private var entries = Map.empty[String, Try[Built]]

  def apply(spark: SparkSession, sf: String, name: String): Built = synchronized {
    if (session ne spark) { entries = plannedOnce(spark, sf); session = spark }
    entries(name).get
  }

  private def plannedOnce(spark: SparkSession, sf: String): Map[String, Try[Built]] = {
    spark.catalog.clearCache()
    val batch = graft.tools.ShuffleProbe.batchOps
    val streams = SparkEntry.queries.keys.toSeq.sorted.filterNot(batch.toSet)
    (batch ++ streams).map { name =>
      name -> Try {
        val qe = SparkEntry.queries(name)(spark, sf).queryExecution
        Built(qe.optimizedPlan, qe.executedPlan.toString,
          qe.explainString(ExplainMode.fromString("formatted")))
      }
    }.toMap
  }
}
