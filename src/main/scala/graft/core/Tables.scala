package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * All queries take an `sfDir` (e.g. /root/testdata/sf0.01) and read
  * single-table parquet files. Reads are plain `spark.read.parquet` so
  * Catalyst owns pushdown/pruning; nothing is cached here — callers
  * decide lifetime.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = tpch ++ Seq("events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = normalizeTs(load(s, d, "events"))

  /** Normalize an events frame's `ts` (batch or streaming) to a
    * session-zoned TIMESTAMP whatever the driver wrote that round:
    * parquet TIMESTAMP(NANOS) reads as raw long nanos
    * (`spark.sql.legacy.parquet.nanosAsLong=true`, set in
    * Verify/Bench/specs) → truncate to micros; TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) reads as TIMESTAMP_NTZ → cast, exact
    * because every session pins spark.sql.session.timeZone=UTC, the
    * same naive reading DuckDB uses. Downstream operators can then
    * rely on `unix_micros(ts)` and timestamp casts unconditionally.
    */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }

  /** Every `documents` consumer runs expensive per-row text compute
    * (md5 shingling, regex tokenization, winnowing), so the loader
    * scatters rows across cores up front ([[Par.scatter]]) — the
    * driver-written single-row-group parquet would otherwise pin the
    * whole text pipeline to one scan task.
    */
  def documents(s: SparkSession, d: String): DataFrame =
    Par.scatter(load(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
