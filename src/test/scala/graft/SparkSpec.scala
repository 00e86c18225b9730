package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the bench session contract at 4
  * cores, so the plan audits and the shuffle budget check the plans
  * the bench and the oracle lap run.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Bench.buildSession("4")

  val sf: String = "/root/testdata/sf0.001"

  /** `name`'s inventory entry: built and planned once per session. */
  def built(name: String): Inventory.Built = Inventory(spark, sf, name)
}
