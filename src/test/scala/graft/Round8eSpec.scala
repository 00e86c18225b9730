package graft

import org.apache.spark.sql.functions._

class Round8eSpec extends SparkSpec {

  import spark.implicits._

  test("tx37 census identities hold on testdata") {
    val row = SparkEntry.queries("tx37_snapshot_drift")(spark, sf).head()
    val vocabUnion = row.getAs[Long]("vocab_union")
    val vocabV1 = row.getAs[Long]("vocab_v1")
    val vocabV2 = row.getAs[Long]("vocab_v2")
    val vocabNew = row.getAs[Long]("vocab_new")
    val vocabLost = row.getAs[Long]("vocab_lost")
    // new/lost partition the union against each side
    assert(vocabV1 + vocabNew === vocabUnion)
    assert(vocabV2 + vocabLost === vocabUnion)
    // the 3-token append guarantees v2 saw the revision tokens
    assert(vocabNew >= 0 && vocabLost >= 0)
    val tvd = row.getAs[Long]("tvd_fx")
    assert(tvd >= 0L && tvd <= 1000000000L)
    val churn = row.getAs[Long]("topk_churn")
    assert(churn >= 0L && churn <= 50L)
    assert(row.getAs[Long]("new_mass_fx") <= 1000000000L)
    assert(row.getAs[Long]("lost_mass_fx") <= 1000000000L)
  }

  test("tx37 on a crafted corpus: closed-form drift") {
    // doc_ids chosen so the split is total: id 7 (%7==0) exists only
    // in v1; id 6 (%7==6) only in v2; id 1 carried unmodified;
    // id 2 (%5==2, %7==2) carried WITH the 3-token append.
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma"),
      (6L, "delta delta epsilon"),
      (7L, "zeta eta theta")).toDF("doc_id", "text")
    import graft.operators.Dedup
    val v1 = Dedup.snapshotV1(docs) // ids 1, 2, 7
    val v2 = Dedup.snapshotV2(docs) // ids 1, 2(+append), 6
    assert(v1.count() === 3 && v2.count() === 3)
    val mod = v2.filter(col("doc_id") === 2).head().getAs[String]("text")
    assert(mod === "alpha beta gamma rev2 appendix note")
    // v1 tokens: alpha×2 beta×2 gamma×2 zeta eta theta (s1=9)
    // v2 tokens: alpha×2 beta×2 gamma×2 rev2 appendix note
    //            delta×2 epsilon (s2=12)
    // lost vocab: zeta, eta, theta; new vocab: rev2, appendix, note,
    // delta, epsilon
    val tok1 = v1.select(explode(split(trim(col("text")), "\\s+")).as("t"))
    val tok2 = v2.select(explode(split(trim(col("text")), "\\s+")).as("t"))
    assert(tok1.count() === 9 && tok2.count() === 12)
    val vocab1 = tok1.distinct().as[String].collect().toSet
    val vocab2 = tok2.distinct().as[String].collect().toSet
    assert((vocab1 -- vocab2) === Set("zeta", "eta", "theta"))
    assert((vocab2 -- vocab1) ===
      Set("rev2", "appendix", "note", "delta", "epsilon"))
  }
}
