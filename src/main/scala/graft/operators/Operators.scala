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
