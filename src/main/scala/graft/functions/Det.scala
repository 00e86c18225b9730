package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic float handling for oracle parity.
  *
  * Per-row IEEE double arithmetic is bit-identical between Spark and
  * DuckDB, but `round()` is not: Spark rounds half-up, DuckDB
  * half-even, so values landing exactly on a .00005 boundary diverge.
  * `floor(x·10^d)/10^d` has no tie to break — identical input doubles
  * give identical truncations.
  */
object Det {

  /** Truncate to `d` decimal digits (toward −∞), tie-free. */
  def trunc(c: Column, d: Int): Column = {
    val p = math.pow(10, d)
    floor(c * p) / p
  }

  def trunc4(c: Column): Column = trunc(c, 4)

  /** DuckDB SQL twin of [[trunc]]. */
  def duckTrunc(expr: String, d: Int): String = {
    val p = math.pow(10, d).toLong
    s"floor(($expr) * $p) / $p"
  }

  /** Truncating integer division matching the DuckDB oracle.
    *
    * MEASURED (DuckDB 1.0.0, this container): integer `//` TRUNCATES
    * toward zero (`-5 // 2 = -2`), exactly like Spark's `div` — so
    * plain `div` is parity-exact against a plain `//` oracle for ANY
    * sign. This is NOT floor division: callers that genuinely need
    * FLOOR bucketing for negative keys must guard BOTH engine sides
    * symmetrically, as q44 does with its `((x % N) + N) % N`
    * day/hour keys (CoreAnalytics.scala).
    */
  def truncDiv(numerator: String, divisor: Long): String =
    s"($numerator) div $divisor"

  /** Historical alias of [[truncDiv]] — the name predates the
    * round-6 measurement that established the truncation contract;
    * the behavior was and is truncating, never floor. Prefer
    * [[truncDiv]] in new code.
    */
  @deprecated("use truncDiv — the emitted division truncates, it does not floor", "round-7")
  def floorDiv(numerator: String, divisor: Long): String =
    truncDiv(numerator, divisor)
}
