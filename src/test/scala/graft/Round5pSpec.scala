package graft

import org.apache.spark.sql.functions._
import graft.operators.{TextAnalysis, EventPipeline, Packing}
import graft.core.Tables

/** Round-5 sixteenth-wave operators: curriculum phases, session
  * profile.
  */
class Round5pSpec extends SparkSpec {

  // --- pk10: curriculum phases -------------------------------------

  test("pk10 phases tile the corpus into ordered quality quartiles") {
    val got = Packing.queries("pk10_curriculum_phases")(spark, sf).collect()
    assert(got.map(_.getAs[Int]("phase")).toSeq === (1 to Packing.Phases))
    val nDocs = Tables.documents(spark, sf).count()
    assert(got.map(_.getAs[Long]("n_docs")).sum === nDocs)
    // ANSI ntile sizing: ceil/floor split of the population
    val base = nDocs / Packing.Phases
    got.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      assert(n === base || n === base + 1)
    }
    // quality envelopes are ordered and non-overlapping across phases
    val envs = got.map(r => (r.getAs[Long]("min_q4"), r.getAs[Long]("max_q4")))
    envs.foreach { case (lo, hi) => assert(lo <= hi) }
    envs.zip(envs.tail).foreach { case ((_, hi), (lo2, _)) =>
      assert(hi <= lo2, "phase k's worst quality <= phase k+1's best")
    }
    val shares = got.map(_.getAs[Long]("token_share_fx")).sum
    assert(shares <= 1000000L && shares > 1000000L - got.length)
  }

  test("pk10 phase of one doc replays against a driver-side sort") {
    val scored = TextAnalysis.queries("tx02_quality_score")(spark, sf)
      .withColumn("q4", floor(col("quality") * 10000).cast("long"))
      .select(col("doc_id"), col("q4"), col("n_tokens"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("q4"),
        r.getAs[Long]("n_tokens")))
    val ranked = scored.sortBy(r => (r._2, r._1))
    val n = ranked.length
    // ANSI NTILE: first (n % k) buckets get ceil(n/k)
    val k = Packing.Phases
    val (q, rem) = (n / k, n % k)
    val phaseTokens = ranked.zipWithIndex.groupBy { case (_, i) =>
      if (i < (q + 1) * rem) i / (q + 1) + 1 else (i - rem) / q + 1
    }.view.mapValues(_.map(_._1._3).sum).toMap
    val got = Packing.queries("pk10_curriculum_phases")(spark, sf).collect()
      .map(r => r.getAs[Int]("phase") -> r.getAs[Long]("n_tokens")).toMap
    assert(got === phaseTokens.map { case (p, t) => p -> t })
  }

  // --- ev39: session profile ---------------------------------------

  test("ev39 session census conserves events and sessions vs ev09") {
    val got = EventPipeline.queries("ev39_session_profile")(spark, sf).collect()
    assert(got.nonEmpty)
    // Σ sz·n_sessions = all events
    assert(got.map(r => r.getAs[Long]("sz") * r.getAs[Long]("n_sessions")).sum ===
      Tables.events(spark, sf).count())
    // Σ n_sessions = ev09's per-user session totals
    val ev09Sessions = graft.operators.EventPipeline
      .queries("ev09_sessionize")(spark, sf)
      .agg(sum(col("n_sessions"))).collect()(0).getLong(0)
    assert(got.map(_.getAs[Long]("n_sessions")).sum === ev09Sessions)
    got.foreach { r =>
      assert(r.getAs[Long]("avg_dur_s") <= r.getAs[Long]("max_dur_s"))
      // a k-event session spans at most (k-1) full gaps of 1800 s
      assert(r.getAs[Long]("max_dur_s") <= (r.getAs[Long]("sz") - 1) * 1800L)
    }
    // single-event sessions have zero duration
    got.find(_.getAs[Long]("sz") === 1L).foreach { r =>
      assert(r.getAs[Long]("avg_dur_s") === 0L && r.getAs[Long]("max_dur_s") === 0L)
    }
  }
}
