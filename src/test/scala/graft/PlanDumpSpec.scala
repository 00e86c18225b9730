package graft

import graft.tools.PlanDump

/** PlanDump's text carries no run-dependent identity, so two dumps of
  * an unchanged tree diff empty.
  */
class PlanDumpSpec extends SparkSpec {

  test("the same query dumps byte-identical twice in one session") {
    // lambda functions and expression ids (ss12), an RDD-backed scan
    // (mm15), a local checkpoint (dd11)
    Seq("ss12_pq_quantize", "mm15_pgm_decode", "dd11_semantic_clusters").foreach { name =>
      val first = PlanDump.dump(spark, sf, name)
      assert(PlanDump.dump(spark, sf, name) === first, name)
    }
  }

  test("normalize renumbers counters by first appearance and masks identities") {
    val plan = "Project [a#17, b#9, a#17] lambda x_40#3 Scan ExistingRDD RDD[561] " +
      "plan_id=88 at Dedup.scala:774 file:/tmp/spark-1a/x obj@5e2c1f0a"
    assert(PlanDump.normalize(plan) === "Project [a#1, b#2, a#1] lambda x_1#3 " +
      "Scan ExistingRDD RDD[1] plan_id=1 at <callsite> <tmpdir> obj@<hash>")
  }
}
