package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every implemented operator has a `queries` entry; every SQL-
  * expressible one has a DuckDB `oracleSql` twin with identical
  * aliases/ordering/numeric handling (SURVEY.md §6).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The flagship is the reference's own pipeline end-to-end:
    * EVENT_JSON extraction → validation → kafka-record fanout census
    * (events.rs full path).
    *
    * The caller's session may be bare (no graft configs):
    * events.parquet carries TIMESTAMP(NANOS), which Spark 4 only reads
    * with the legacy nanos-as-long conf — set it here so the flagship
    * runs on any session.
    */
  def entry(spark: SparkSession): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    EventPipeline.queries("ev13_pipeline_e2e")(spark, "/root/testdata/sf0.001")
  }

  /** Every operator object, named once. Each query name is owned by
    * exactly one object (QueriesSmokeSpec checks that no name is
    * shadowed).
    */
  val operators: Seq[Operators] = Seq(
    EventPipeline,
    CoreAnalytics,
    TextAnalysis,
    Packing,
    Dedup,
    Similarity,
    Multimodal)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.flatMap(_.queries).toMap

  def oracleSql: Map[String, String] = operators.flatMap(_.oracles).toMap
}
