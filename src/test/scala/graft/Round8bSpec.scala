package graft

import graft.operators.Packing
import org.apache.spark.sql.functions._

class Round8bSpec extends SparkSpec {

  import spark.implicits._

  /** Hand-traceable corpus: "abab"×10 + "ab"×5.
    * Round 0: syms = 4·10 + 2·5 = 50.
    * Round 1: pairs (a b)=2·10+5=25, (b a)=10 → merge (a,b); seqs
    *   |ab||ab| and |ab| (greedy left-to-right, CONSECUTIVE
    *   occurrences both merge: |a||b||a||b| → |ab||ab|);
    *   syms = 2·10 + 1·5 = 25.
    * Round 2: only pair (ab ab)=10 → merge; syms = 10 + 5 = 15.
    * Round 3+: no adjacent pairs remain — the vocabulary SATURATES
    *   and the curve truncates (the oracle's seq CTEs pass the last
    *   vocabulary through so pk22 stays defined).
    */
  private def fixtureDir: String = {
    val dir = "/tmp/graft_bpe_fixture"
    val text = (Seq.fill(10)("abab") ++ Seq.fill(5)("ab")).mkString(" ")
    Seq((1L, text, "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("pk21 reproduces the hand-derived BPE merges and saturates") {
    val out = Packing.queries("pk21_bpe_train")(spark, fixtureDir)
      .collect().sortBy(_.getAs[Long]("round"))
    assert(out.length === 3) // rounds 0..2, then saturation
    val r0 = out(0)
    assert(r0.getAs[String]("sym_x") === "")
    assert(r0.getAs[Long]("corpus_syms") === 50L)
    val r1 = out(1)
    assert((r1.getAs[String]("sym_x"), r1.getAs[String]("sym_y")) === ("a", "b"))
    assert(r1.getAs[Long]("pair_n") === 25L)
    assert(r1.getAs[Long]("corpus_syms") === 25L)
    val r2 = out(2)
    assert((r2.getAs[String]("sym_x"), r2.getAs[String]("sym_y")) === ("ab", "ab"))
    assert(r2.getAs[Long]("pair_n") === 10L)
    assert(r2.getAs[Long]("corpus_syms") === 15L)
  }

  /** The right-boundary regression (round-8 review finding): after
    * (a,b) merges, word "cab" is |c||ab| and its only adjacent pair
    * is (c, ab). A right-open replace pattern ("|c|a") would corrupt
    * it to |cab| when (c,a) merges for the "ca" words; the
    * wrapped-symbol representation must leave it untouched until
    * (c, ab) itself wins a round.
    * Corpus: "ab"×20, "ca"×10, "cab"×6.
    * R0 syms = 2·20+2·10+3·6 = 78. R1 merge (a,b) n=26 → syms 52.
    * R2 merge (c,a) n=10 → syms 42 (cab NOT touched). R3 merge
    * (c,ab) n=6 → syms 36. Then saturation.
    */
  test("pk21 boundary regression: pair y prefix of following symbol") {
    val dir = "/tmp/graft_bpe_boundary"
    val text = (Seq.fill(20)("ab") ++ Seq.fill(10)("ca") ++
      Seq.fill(6)("cab")).mkString(" ")
    Seq((1L, text, "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Packing.queries("pk21_bpe_train")(spark, dir)
      .collect().sortBy(_.getAs[Long]("round"))
    assert(out.length === 4)
    def row(i: Int) = (out(i).getAs[String]("sym_x"),
      out(i).getAs[String]("sym_y"), out(i).getAs[Long]("pair_n"),
      out(i).getAs[Long]("corpus_syms"))
    assert(out(0).getAs[Long]("corpus_syms") === 78L)
    assert(row(1) === (("a", "b", 26L, 52L)))
    assert(row(2) === (("c", "a", 10L, 42L)))
    assert(row(3) === (("c", "ab", 6L, 36L)))
  }

  test("pk21 on the real corpus: full curve, strictly compressing, deterministic") {
    val out = Packing.queries("pk21_bpe_train")(spark, sf)
      .collect().sortBy(_.getAs[Long]("round"))
    assert(out.length === Packing.NMerges + 1)
    val syms = out.map(_.getAs[Long]("corpus_syms")).toSeq
    assert(syms === syms.sorted.reverse, "corpus symbols must not grow")
    assert(syms.distinct === syms, "every merge must strictly compress")
    out.drop(1).foreach { r =>
      assert(r.getAs[Long]("pair_n") > 0L)
      assert(r.getAs[String]("sym_x").nonEmpty && r.getAs[String]("sym_y").nonEmpty)
    }
    // merged symbols are concatenations learnable from [a-z] runs
    out.drop(1).foreach(r =>
      assert((r.getAs[String]("sym_x") + r.getAs[String]("sym_y"))
        .matches("[a-z]+")))
    val again = Packing.queries("pk21_bpe_train")(spark, sf)
      .collect().sortBy(_.getAs[Long]("round"))
    assert(again.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
  }

  test("pk22 fertility: word mass conserved, fertility between 1 and the char bound") {
    val out = Packing.queries("pk22_bpe_fertility")(spark, sf).collect()
    assert(out.nonEmpty)
    val direct = graft.core.Tables.documents(spark, sf)
      .select(col("lang"),
        explode(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0))).as("w"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("n")).toMap
    out.foreach { r =>
      val lang = r.getAs[String]("lang")
      assert(r.getAs[Long]("n_words") === direct(lang))
      val f = r.getAs[Long]("fertility_fx")
      assert(f >= 1000000L, s"$lang fertility below 1 sym/word: $f")
      assert(r.getAs[Long]("bpe_tokens") >= r.getAs[Long]("n_words"))
    }
  }
}
