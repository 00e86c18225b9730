package graft

import org.apache.spark.sql.functions._
import graft.operators.{CoreAnalytics, Dedup, EventPipeline, Similarity}

/** Round-5 operators + the ensure-topic admin contract + the stats
  * listener.
  */
class Round5Spec extends SparkSpec {

  // --- ev29: degraded-mode enrichment ------------------------------

  test("ev29 keeps every event: ok + fallback partition the input") {
    val out = EventPipeline.queries("ev29_enrich_fallback")(spark, sf)
      .groupBy(col("enrich_status")).agg(sum(col("n_events")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = graft.core.Tables.events(spark, sf).count()
    assert(out.values.sum === total, "degraded mode must never drop events")
    assert(out.getOrElse("fallback", 0L) > 0, "the miss side must be exercised")
    assert(out.getOrElse("ok", 0L) > 0, "the hit side must be exercised")
  }

  test("ev29 fallback rows carry the default metadata shape") {
    val rows = EventPipeline.queries("ev29_enrich_fallback")(spark, sf).collect()
    val (fb, ok) = rows.partition(_.getString(0) == "fallback")
    assert(fb.forall(_.getString(1) == "UNKNOWN"),
      "every fallback row must carry the default segment")
    assert(ok.forall(_.getString(1) != "UNKNOWN"),
      "no ok row may carry the default segment")
  }

  test("ev29 fallback census matches a direct recompute of the miss rule") {
    // lookup "fails" exactly when user_id % LookupFailMod == 0 or the
    // user has no dim row at all — recompute from the base tables
    val ev = graft.core.Tables.events(spark, sf)
    val custKeys = graft.core.Tables.customer(spark, sf)
      .select(col("c_custkey")).collect().map(_.getLong(0)).toSet
    val expectedFallback = ev.select(col("user_id")).collect().count { r =>
      val u = r.getLong(0)
      u % EventPipeline.LookupFailMod == 0 || !custKeys.contains(u)
    }
    val got = EventPipeline.queries("ev29_enrich_fallback")(spark, sf)
      .filter(col("enrich_status") === "fallback")
      .agg(sum(col("n_events"))).collect()(0).getLong(0)
    assert(got === expectedFallback)
  }

  // --- dd17: LSH occupancy audit -----------------------------------

  test("dd17 accounts every doc in every band and pairs match occupancy math") {
    val nDocs = graft.core.Tables.documents(spark, sf).count()
    val rows = Dedup.queries("dd17_lsh_occupancy")(spark, sf).collect()
    assert(rows.length === 4, "one row per band")
    rows.foreach { r =>
      assert(r.getLong(2) === nDocs, s"band ${r.getLong(0)} must hold all docs")
      assert(r.getLong(1) <= nDocs)
      assert(r.getLong(3) >= 1L)
    }
  }

  test("dd17 candidate-pair total equals dd07's pre-distinct join volume") {
    // Σ c·(c−1)/2 over buckets IS the number of (doc_a < doc_b) band
    // matches the dd07 self-join generates — the audit must predict
    // the join's true cost, not an approximation of it
    val audit = Dedup.queries("dd17_lsh_occupancy")(spark, sf)
      .agg(sum(col("n_cand_pairs"))).collect()(0).getLong(0)
    // recompute directly: per (band,bval) occupancy from dd04's hashes
    val direct = graft.operators.Dedup.queries("dd04_simhash")(spark, sf)
      .select(col("doc_id"), posexplode(array((0 until graft.operators.Dedup.SimhashBands).map(b =>
        shiftright(col("simhash"), b * graft.operators.Dedup.SimhashBandBits)
          .bitwiseAND(graft.operators.Dedup.SimhashBandMask)): _*)))
      .groupBy(col("pos"), col("col")).agg(count(lit(1)).as("c"))
      .agg(sum(expr("(c * (c - 1)) div 2"))).collect()(0).getLong(0)
    assert(audit === direct)
  }

  // --- ss11: IVF nprobe-recall curve -------------------------------

  test("ss11 recall and candidate volume are monotone in nprobe") {
    val rows = Similarity.queries("ss11_ivf_nprobe_eval")(spark, sf)
      .orderBy(col("nprobe")).collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 4L))
    val cands = rows.map(_.getLong(1))
    val recalls = rows.map(_.getDouble(4))
    assert(cands.zip(cands.tail).forall { case (a, b) => a <= b },
      "probing more cells cannot shrink the candidate set")
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b + 1e-9 },
      "recall@10 must be non-decreasing in nprobe")
    rows.foreach(r => assert(r.getLong(2) === 10, "truth is always top-10"))
  }

  // --- q37: key-skew profile ---------------------------------------

  test("q37 skew profile bounds hold and fractions are consistent") {
    val rows = CoreAnalytics.queries("q37_key_skew")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nKeys, nRows, maxRows, top1) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(maxRows <= top1, "top-1% slice includes the heaviest key")
      assert(top1 <= nRows)
      assert(nKeys <= nRows)
      assert(r.getDouble(5) <= r.getDouble(6) + 1e-9,
        "max_frac cannot exceed top1pct_frac")
    }
  }

  // --- KafkaAdmin: ensure_topic contract (events.rs:23-74) ---------

  test("ensureTopic is a no-op when force_create is off") {
    // events.rs:30-32 — the gate runs BEFORE any client construction,
    // so this must succeed with no kafka-clients on the classpath
    val props = new java.util.Properties()
    props.setProperty("bootstrap.servers", "broker:9092")
    assert(graft.streaming.KafkaAdmin.ensureTopic(
      props, "near.events.all", 3, 1.toShort, forceCreate = false)
      === graft.streaming.KafkaAdmin.SkippedForceCreateOff)
  }

  test("ensureTopic reaches exactly the kafka-clients lookup without the jar") {
    // The container has no kafka-clients: the FURTHEST the admin flow
    // can go is the AdminClient class lookup. Everything before it
    // (force_create gate, property plumbing) is proven by arriving
    // there; on a cluster the same bytes run the real flow.
    val props = new java.util.Properties()
    props.setProperty("bootstrap.servers", "broker:9092")
    val e = intercept[ClassNotFoundException] {
      graft.streaming.KafkaAdmin.ensureTopic(props, "near.events.all", 3, 1.toShort)
    }
    assert(e.getMessage.contains("org.apache.kafka.clients.admin.AdminClient"))
  }

  test("ensureTopic wires partition/replication/force from NesConfig") {
    val cfg = graft.streaming.NesConfig.fromProperties(Map(
      "kafka.bootstrap.servers" -> "b:9092",
      "new_topic_partitions" -> "6",
      "new_topic_replication" -> "3",
      "force_create_new_topic" -> "false"))
    // force off → config-shaped call short-circuits like the reference
    assert(graft.streaming.KafkaAdmin.ensureTopic(cfg, "t")
      === graft.streaming.KafkaAdmin.SkippedForceCreateOff)
    // force on → proceeds to the client boundary with the config's props
    intercept[ClassNotFoundException] {
      graft.streaming.KafkaAdmin.ensureTopic(
        cfg.copy(forceCreateNewTopic = true), "t")
    }
  }

  // --- PipelineStats: the stats.rs logger analog -------------------

  test("stats listener counts completed executions and renders the stats line") {
    val l = graft.streaming.PipelineStats.register(spark)
    try {
      val before = l.snapshot()
      graft.core.Tables.nation(spark, sf).groupBy(col("n_regionkey")).count().collect()
      // QueryExecutionListener callbacks ride the listener bus — poll
      val deadline = System.currentTimeMillis() + 30000
      while (l.snapshot().done == before.done && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val after = l.snapshot()
      assert(after.done > before.done, "completed execution not counted")
      assert(after.failed === before.failed)
      val line = after.statsLine(before, last = "q")
      assert(line.startsWith("# q | Blocks processing: "), line)
      assert(line.contains(s"Blocks done: ${after.done}"), line)
      assert(line.contains("b/s"), line)
    } finally graft.streaming.PipelineStats.unregister(l)
  }

  test("streaming stats listener counts micro-batches, rows and active queries") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val l = graft.streaming.PipelineStats.registerStream(spark)
    try {
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val q = in.toDS().writeStream.format("memory").queryName("graft_stats_probe")
        .outputMode("append").start()
      in.addData(1L, 2L, 3L); q.processAllAvailable()
      in.addData(4L); q.processAllAvailable()
      q.stop()
      val deadline = System.currentTimeMillis() + 30000
      while ((l.snapshot().rowsOut < 4 || l.snapshot().inFlight != 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      val snap = l.snapshot()
      assert(snap.done >= 2, "at least one micro-batch per addData round")
      assert(snap.rowsOut === 4, "all input rows counted")
      assert(snap.inFlight === 0, "terminated query leaves the active gauge")
    } finally graft.streaming.PipelineStats.unregisterStream(l)
  }

  test("stats listener counts failures on the failure path") {
    val l = graft.streaming.PipelineStats.register(spark)
    try {
      val before = l.snapshot()
      // must fail at RUNTIME (inside the tracked execution) — an
      // analysis-time error never reaches the listener
      intercept[Exception] {
        spark.range(1).selectExpr("assert_true(id > 0)").collect()
      }
      val deadline = System.currentTimeMillis() + 30000
      while (l.snapshot().failed == before.failed && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(l.snapshot().failed > before.failed)
    } finally graft.streaming.PipelineStats.unregister(l)
  }
}
