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
    CoreAnalytics,
    EventPipeline,
    TextAnalysis,
    Dedup,
    Similarity,
    Multimodal,
    Curation,
    Round3,
    Round4,
    Round4b,
    Round5,
    Round5b,
    Round5c,
    Round5d,
    Round5e,
    Round5f,
    Round5g,
    Round5h,
    Round5i,
    Round5j,
    Round5k,
    Round5l,
    Round5m,
    Round5n,
    Round5o,
    Round5p,
    Round5q,
    Round5r,
    Round5s,
    Round5t,
    Round5u,
    Round6,
    Round6b,
    Round6c,
    Round6d,
    Round6e,
    Round6f,
    Round6g,
    Round6h,
    Round6i,
    Round6j,
    Round6k,
    Round6l,
    Round6m,
    Round6n,
    Round6o,
    Round6p,
    Round6q,
    Round6r,
    Round6s,
    Round6t,
    Round6u,
    Round6v,
    Round6w,
    Round6x,
    Round6y,
    Round6z,
    Round6aa,
    Round6ab,
    Round6ac,
    Round6ad,
    Round6ae,
    Round6af,
    Round6ag,
    Round6ah,
    Round6ai,
    Round6aj,
    Round6ak,
    Round6al,
    Round6am,
    Round6an,
    Round6ao,
    Round6ap,
    Round6aq,
    Round6ar,
    Round6as,
    Round6at,
    Round6au,
    Round6av,
    Round6aw,
    Round6ax,
    Round6ay,
    Round6az,
    Round6ba,
    Round6bb,
    Round6bc,
    Round6bd,
    Round6be,
    Round6bf,
    Round7,
    Round7b,
    Round7c,
    Round7d,
    Round7e,
    Round8,
    Round8b,
    Round8c,
    Round8d,
    Round8e,
    Round8f,
    Round8g,
    Round8h,
    Round8i,
    Round8j,
    Round8k,
    Round8l,
    Round8m,
    Round8n,
    Round8o,
    Round8p,
    Round8q,
    Round8r,
    Round8s,
    Round8t,
    Round8u,
    Round8v,
    Round8w,
    Round9,
    Round10,
    Round11,
    Round13)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    operators.flatMap(_.queries).toMap

  def oracleSql: Map[String, String] = operators.flatMap(_.oracles).toMap
}
