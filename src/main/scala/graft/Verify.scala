package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. Runs on the
  * bench session contract (Bench.buildSession) and honours the same
  * SPARK_GRAFT_ONLY subset, which also restricts oracle_sql.json so
  * local_verify compares the same queries; unset, the full surface
  * runs.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Bench.buildSession(Bench.cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => Bench.selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    def q(s: String): String = "\"" + Bench.esc(s) + "\""
    val json = SparkEntry.oracleSql.filter(kv => Bench.selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
