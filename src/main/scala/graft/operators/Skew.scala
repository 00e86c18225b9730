package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling join utilities.
  *
  * AQE's skew-join split handles most cases at runtime; explicit
  * salting is the static fallback when one join key dwarfs the rest
  * (the reference's real-world analog: one hot contract emitting most
  * events). `saltedJoin` splits each hot left key across `salt`
  * shuffle partitions and replicates the (small per-key) right side
  * `salt` ways — result set identical to the plain join.
  */
object Skew {

  /** Inner equi-join with the left side salted `salt` ways.
    *
    * The left's salt is derived deterministically from a unique column
    * (so re-runs reproduce); the right side is exploded over all salt
    * values. Right side must be per-key small (dim-like) — its rows
    * are replicated `salt` times.
    */
  def saltedJoin(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftUnique: Column, salt: Int): DataFrame = {
    val l = left.withColumn("__salt", pmod(hash(leftUnique), lit(salt)))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    l.join(r, l(leftKey) === r(rightKey) && l("__salt") === r("__salt"))
      .drop("__salt")
  }
}
