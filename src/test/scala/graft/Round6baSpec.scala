package graft

import graft.operators.Packing

class Round6baSpec extends SparkSpec {

  test("pk19 write amplification is consistent and hash scatters at least as wide") {
    val rows = Packing.queries("pk19_write_amplification")(spark, sf).collect()
    assert(rows.length === 2)
    val byStrategy = rows.map(r => r.getAs[String]("strategy") -> r).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("shards_touched") <= r.getAs[Long]("n_shards"))
      assert(r.getAs[Long]("bytes_rewritten") >= r.getAs[Long]("bytes_changed"),
        "a touched shard rewrites at least its changed bytes")
      assert(r.getAs[Long]("amp_fx") >= 1000000L - 1L)
    }
    // both strategies see the same changed mass
    assert(byStrategy("hash").getAs[Long]("bytes_changed") ===
      byStrategy("range").getAs[Long]("bytes_changed"))
  }
}
