package graft

import graft.operators.Multimodal

class Round8uSpec extends SparkSpec {

  test("mm20 sniffing: every payload classifies to its builder's format") {
    val rows = SparkEntry.queries("mm20_type_sniffing")(spark, sf).collect()
    assert(rows.nonEmpty)
    val nDocs = graft.core.Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_payloads")).sum === nDocs)
    // no payload lands in "unknown" — the sniffer covers all builders
    assert(!rows.exists(_.getAs[String]("detected") == "unknown"))
    assert(rows.map(_.getAs[String]("detected")).toSet
      .subsetOf(Set("pgm", "warc", "tar", "wav")))
  }

  test("the sniffer is magic-byte exact, not extension-trusting") {
    import graft.sources._
    assert(Multimodal.sniff(PgmCodec.encode(2, 2, 255,
      Array[Byte](1, 2, 3, 4))) === "pgm")
    assert(Multimodal.sniff(WarcCodec.encodeRecord(
      Seq("WARC-Record-ID" -> "x"), Array[Byte](9))) === "warc")
    assert(Multimodal.sniff(TarCodec.encodeArchive(
      Seq("a" -> Array[Byte](1)))) === "tar")
    assert(Multimodal.sniff(WavCodec.encode(8000,
      Array[Short](1, 2, 3))) === "wav")
    assert(Multimodal.sniff(Array[Byte](1, 2, 3)) === "unknown")
    assert(Multimodal.sniff("RIFF1234NOTW".getBytes) === "unknown")
    // a TAR body containing "RIFF"/"P5" at offset 0 of the BODY does
    // not confuse the sniffer (magic positions are format-specific)
    val trap = TarCodec.encodeArchive(Seq("t" -> "P5 fake".getBytes))
    assert(Multimodal.sniff(trap) === "tar")
  }

  test("tx42 adaptive stopwords: flags match a driver df recount") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("tx42_adaptive_stopwords")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      val texts = docs.filter(_._1 == lang).map(_._2)
      val tokSets = texts.map(_.trim.split("\\s+").filter(_.nonEmpty)
        .map(_.toLowerCase).toSet)
      val allToks = texts.flatMap(_.trim.split("\\s+").filter(_.nonEmpty)
        .map(_.toLowerCase))
      val df = tokSets.flatten.groupBy(identity)
        .map { case (k, v) => k -> v.length.toLong }
      val n = tokSets.length.toLong
      val stop = df.filter { case (_, d) => d * 2 >= n }.keySet
      assert(r.getAs[Long]("n_stopwords") === stop.size.toLong)
      assert(r.getAs[Long]("vocab") === df.size.toLong)
      assert(r.getAs[Long]("n_tokens") === allToks.length.toLong)
      val mass = allToks.count(stop.contains).toLong
      assert(r.getAs[Long]("stop_mass") === mass)
      // top token = max tf, ties alphabetical
      val tf = allToks.groupBy(identity)
        .map { case (k, v) => k -> v.length.toLong }
      val top = tf.toSeq.minBy { case (t, c) => (-c, t) }._1
      assert(r.getAs[String]("top_token") === top)
    }
  }
}
