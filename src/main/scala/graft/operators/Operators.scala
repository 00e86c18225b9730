package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered operator object: its query builders by name and the
  * DuckDB oracle SQL twin of each (same aliases, ordering and numeric
  * handling). [[graft.SparkEntry]] names every object once and folds
  * both maps from that one list.
  */
trait Operators {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}

/** The two fixed-point scales the oracles share: a ratio is reported as
  * `(a * Fx) div b` (six decimals) or `(a * Fx4) div b` (four), integer
  * arithmetic that both engines round the same way.
  */
object Operators {
  val Fx = 1000000L
  val Fx4 = 10000L
}
