package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output-vs-model correctness: every delivered record is hashed in Spark
  * and the multiset of hashes is compared with the model's.
  */
object Check {

  /** Sorted record hashes of a (topic, key, value) frame. */
  def hashes(records: DataFrame): Array[Long] = {
    val h = records
      .select(xxhash64(concat_ws(Model.Sep, col("topic"), col("key"), col("value"))))
      .collect().map(_.getLong(0))
    java.util.Arrays.sort(h)
    h
  }

  /** Sorted record hashes of a per-topic parquet sink directory. */
  def sinkHashes(spark: SparkSession, dir: String): Array[Long] =
    if (!new java.io.File(dir).exists()) Array.emptyLongArray
    else hashes(spark.read.parquet(dir))

  /** Records missing from plus records extra to the expected multiset. */
  def errors(expected: Array[Long], actual: Array[Long]): Long = {
    val (missing, extra) = Model.diff(expected, actual)
    missing + extra
  }
}
