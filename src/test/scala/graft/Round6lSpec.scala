package graft

import graft.operators.{Dedup, EventPipeline}

class Round6lSpec extends SparkSpec {

  test("ev48 streamed near-dup pairs equal dd07's batch banded join") {
    val r = EventPipeline.queries("ev48_stream_neardup")(spark, sf).head()
    val batchPairs = Dedup.queries("dd07_hamming_pairs")(spark, sf).count()
    assert(r.getAs[Long]("n_pairs") === batchPairs)
    assert(r.getAs[Long]("n_dup_docs") <= r.getAs[Long]("n_pairs"))
    assert(r.getAs[Long]("n_originals") <= r.getAs[Long]("n_pairs"))
  }
}
