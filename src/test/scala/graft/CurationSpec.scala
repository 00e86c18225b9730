package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Dedup, RangeJoin}

class CurationSpec extends SparkSpec {

  test("dd06 connected components match a union-find ground truth") {
    val pairs = Dedup.queries("dd02_ngram_jaccard")(spark, sf)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // driver-side union-find over the same candidate pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.toSeq.groupBy(find)
      .map { case (_, ms) => (ms.min, ms.size.toLong, ms.max) }
      .toSet
    val got = SparkEntry.queries("dd06_dedup_clusters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.nonEmpty, "candidate pairs exist at sf0.001")
    assert(got === expected)
  }

  test("ev17 binned keyed interval join equals the naive non-equi join") {
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("start_ts"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("end_ts"), col("value"))
    val naive = p.join(c.withColumnRenamed("user_id", "c_user"),
        col("user_id") === col("c_user") &&
        col("ts") >= col("start_ts") && col("ts") <= col("end_ts"))
      .select(col("event_id"), col("value"))
    val binned = RangeJoin.binned(p, c, "ts", "start_ts", "end_ts", 1800L, Seq("user_id"))
      .select(col("event_id"), col("value"))
    assert(binned.count() === naive.count())
    assert(binned.exceptAll(naive).count() === 0)
    assert(naive.exceptAll(binned).count() === 0)
    assert(!binned.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"))
  }

  test("pk01 packing conserves tokens and numbers packs contiguously") {
    val docs = Tables.documents(spark, sf)
      .select(col("lang"), size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .groupBy(col("lang")).agg(sum(col("n")).as("total"), count(lit(1)).as("n_docs"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val packs = SparkEntry.queries("pk01_token_packing")(spark, sf).collect()
    val byLang = packs.groupBy(_.getString(0))
    assert(byLang.keySet === docs.keySet)
    byLang.foreach { case (lang, rows) =>
      assert(rows.map(_.getAs[Long]("pack_tokens")).sum === docs(lang)._1)
      assert(rows.map(_.getAs[Long]("n_docs")).sum === docs(lang)._2)
      val ids = rows.map(_.getAs[Long]("pack_id")).sorted
      assert(ids.head === 0L)
      assert(ids === (0L until ids.length).toArray.toSeq, s"non-contiguous packs for $lang")
    }
  }

  test("q26 hash sampling is deterministic and near the target rate") {
    val total = Tables.lineitem(spark, sf).count()
    val a = SparkEntry.queries("q26_hash_sample")(spark, sf).collect()
    val b = SparkEntry.queries("q26_hash_sample")(spark, sf).collect()
    assert(a.toSeq === b.toSeq)
    val sampled = a.map(_.getAs[Long]("n_lines")).sum.toDouble
    assert(sampled / total > 0.02 && sampled / total < 0.08,
      s"sample rate ${sampled / total} outside [0.02, 0.08]")
  }

  test("ss04 centroid assignment covers every vector with sane cosines") {
    val total = Tables.embeddings(spark, sf).count()
    val rows = SparkEntry.queries("ss04_kmeans_assign")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum === total)
    rows.foreach { r =>
      assert(r.getAs[Double]("centroid_norm") > 0.0)
      val c = r.getAs[Double]("avg_cos")
      assert(c >= -1.0 && c <= 1.0)
    }
  }

  test("ev16 dead-letter split conserves events and isolates the corruption") {
    val ev = Tables.events(spark, sf)
    val total = ev.count()
    val corrupted = ev.filter(pmod(col("event_id"), lit(7)) === 0).count()
    val rows = SparkEntry.queries("ev16_dead_letter")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_events")).toMap
    assert(rows("valid") + rows("dead") === total)
    assert(rows("dead") === corrupted)
  }

  test("tx09 repetition fractions stay in [0,1] with the top-token floor") {
    SparkEntry.queries("tx09_repetition")(spark, sf).collect().foreach { r =>
      val n = r.getAs[Long]("n_tokens")
      val top = r.getAs[Double]("top_token_frac")
      val dup = r.getAs[Double]("dup_bigram_frac")
      assert(top > 0.0 && top <= 1.0)
      assert(top >= 1.0 / n - 1e-4)
      assert(dup >= 0.0 && dup <= 1.0)
    }
  }

  test("ev19 streaming pipeline census equals the ev13 batch census") {
    val streaming = SparkEntry.queries("ev19_stream_pipeline")(spark, sf)
    val batch = SparkEntry.queries("ev13_pipeline_e2e")(spark, sf)
    assert(streaming.collect().toSeq === batch.collect().toSeq)
  }

  test("ev18 lag stats: rates positive, lag zero only at the tip window") {
    val rows = SparkEntry.queries("ev18_lag_stats")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("bps") > 0.0)
      assert(r.getAs[Long]("lag_blocks") >= 0L)
    }
    assert(rows.count(_.getAs[Long]("lag_blocks") == 0L) >= 1)
  }

  test("ev21 repeated in one session does not accumulate memory-sink rows") {
    val a = SparkEntry.queries("ev21_stream_dedup")(spark, sf).collect()
    val b = SparkEntry.queries("ev21_stream_dedup")(spark, sf).collect()
    assert(a.toSeq === b.toSeq)
  }

  test("mm03 chunk counts equal per-doc ceil(bytes/64)") {
    val expected = Tables.documents(spark, sf)
      .filter(length(col("text")) > 0 && col("text").rlike("^[\\x00-\\x7F]*$"))
      .select(col("source"), ceil(length(col("text")).cast("double") / 64.0).cast("long").as("nc"))
      .groupBy(col("source")).agg(sum(col("nc")).as("n_chunks"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = SparkEntry.queries("mm03_chunk_digest")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_chunks")).toMap
    assert(got === expected)
  }
}
