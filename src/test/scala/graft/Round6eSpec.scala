package graft

import org.apache.spark.sql.functions._
import graft.operators.{EventPipeline, Packing}
import graft.core.Tables

class Round6eSpec extends SparkSpec {

  test("ev43 session counts are monotone in the gap and bounded by users/events") {
    val got = EventPipeline.queries("ev43_session_gap_sweep")(spark, sf).collect()
    assert(got.map(_.getAs[Long]("gap_s")).toSeq === Seq(300L, 1800L, 7200L))
    val nEvents = Tables.events(spark, sf).count()
    val nUsers = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    got.foreach { r =>
      assert(r.getAs[Long]("n_events") === nEvents)
      // at least one session per active user, at most one per event
      assert(r.getAs[Long]("n_sessions") >= nUsers)
      assert(r.getAs[Long]("n_sessions") <= nEvents)
    }
    // a larger gap can only merge sessions
    val s = got.map(_.getAs[Long]("n_sessions"))
    assert(s.sliding(2).forall(p => p(0) >= p(1)), s.toSeq.toString)
    // the 30-min arm must be consistent with ev09's session count
    // (ev09 gaps on TRUNCATED seconds, ev43 on exact micros: a gap in
    // (1800 s, 1801 s) can open a session here but not there, so the
    // micros count is >= the seconds count and within the count of
    // such boundary gaps — at this SF the constructions coincide)
    val ev09Sessions = graft.operators.EventPipeline
      .queries("ev09_sessionize")(spark, sf)
      .agg(sum(col("n_sessions"))).head.getLong(0)
    assert(s(1) === ev09Sessions)
  }

  test("pk13 moves shrink imbalance and never overdraw a donor or receiver") {
    val got = Packing.queries("pk13_shard_rebalance")(spark, sf).collect()
    if (got.nonEmpty) {
      val shards = Tables.documents(spark, sf)
        .withColumn("shard", pmod(graft.functions.Hashing.hash64(
          col("doc_id").cast("string")), lit(16)))
        .groupBy(col("shard")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val target = shards.values.sum / 16
      got.foreach { r =>
        val from = r.getAs[Long]("from_shard"); val to = r.getAs[Long]("to_shard")
        val moved = r.getAs[Long]("moved")
        assert(moved > 0L)
        // moved = min(excess, deficit): donor never drops below the
        // target, receiver never rises above it
        assert(shards(from) - moved >= target)
        assert(shards(to) + moved <= target)
        assert(r.getAs[Long]("residual") === (shards(from) - target - moved))
      }
      // donors and receivers are disjoint shard sets
      val froms = got.map(_.getAs[Long]("from_shard")).toSet
      val tos = got.map(_.getAs[Long]("to_shard")).toSet
      assert(froms.intersect(tos).isEmpty)
    }
  }

  test("Rank.topKByKey is bit-identical to the naive per-group window on skewed data") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // one giant group + several small ones, adversarial ties
    val rows = (1 to 3000).map(i => ("giant", s"v${i % 700}", (i % 13).toLong)) ++
      (1 to 40).map(i => ("small", s"v$i", (i % 5).toLong)) ++
      Seq(("empty-ish", "x", 1L))
    val df = rows.toDF("g", "v", "score")
      .groupBy($"g", $"v").agg(sum($"score").as("score"))
    val naive = df.withColumn("rk", row_number().over(
        Window.partitionBy($"g").orderBy($"score".desc, $"v")))
      .filter($"rk" <= 25)
      .select($"g", $"v", $"rk").collect().map(_.toSeq).toSet
    val salted = graft.operators.Rank.topKByKey(df, Seq($"g"),
        Seq($"score".desc, $"v"), 25, saltOn = $"v")
      .select($"g", $"v", $"rk").collect().map(_.toSeq).toSet
    assert(salted === naive)
    // plan shape: no window partitioned by g alone sorts the unpruned frame
    // (the first window is keyed by (g, salt))
    val plan = graft.operators.Rank.topKByKey(df, Seq($"g"),
      Seq($"score".desc, $"v"), 25, saltOn = $"v")
      .queryExecution.executedPlan.toString
    assert(plan.contains("_salt_rk"), plan.linesIterator.take(12).mkString("\n"))
  }
}
