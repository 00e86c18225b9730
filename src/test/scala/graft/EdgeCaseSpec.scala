package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.functions.DotExpr
import graft.operators.AsOf

class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  test("DotExpr yields null on length mismatch and null elements, like the composed form") {
    val df = Seq(
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)),      // ok
      (Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0)),           // length mismatch
      (Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)))     // null element
      .toDF("a", "b")
    val composed = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val rows = df.select(DotExpr(col("a"), col("b")).as("n"), composed.as("c")).collect()
    assert(rows(0).getDouble(0) === 11.0 && rows(0).getDouble(1) === 11.0)
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1))
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1))
  }

  test("as-of joins treat null keys with SQL join semantics (both impls)") {
    val l = Seq(
      (1L, java.lang.Long.valueOf(10L), Timestamp.valueOf("2024-01-01 01:00:00")),
      (2L, null.asInstanceOf[java.lang.Long], Timestamp.valueOf("2024-01-01 01:00:00")))
      .toDF("event_id", "user_id", "ts")
    val r = Seq(
      (java.lang.Long.valueOf(10L), Timestamp.valueOf("2024-01-01 00:30:00"), 1.5),
      (null.asInstanceOf[java.lang.Long], Timestamp.valueOf("2024-01-01 00:40:00"), 9.9))
      .toDF("user_id", "c_ts", "value")
    def check(out: org.apache.spark.sql.DataFrame): Unit = {
      val m = out.collect().map(row => row.getLong(0) ->
        (if (row.isNullAt(1)) null else row.getDouble(1))).toMap
      assert(m(1L) === 1.5)   // normal match
      assert(m(2L) == null)   // null key matches nothing (not the 9.9 null-key right row)
    }
    check(AsOf.joinAsOf(l, r, "user_id", "ts", "c_ts", Seq("value"))
      .select(col("event_id"), col("asof_value")))
    check(AsOf.joinAsOfNative(l, r, "user_id", "ts", "c_ts", Seq("value"))
      .select(col("event_id"), col("asof_value")))
  }

  test("connected components: empty edges, self-loops, chains converge exactly") {
    import graft.operators.Components
    // empty edge list → empty labeling (no rounds spin)
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Components.connectedComponents(empty, "a", "b").count() === 0)
    // self-loop + a 4-node chain + an isolated pair: labels = min reachable
    val edges = Seq((5L, 5L), (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("a", "b")
    val comp = Components.connectedComponents(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(5L -> 5L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connected components releases intermediate round caches") {
    import graft.operators.Components
    // a deep chain forces many rounds; the only cache surviving a run
    // should be the FINAL round's checkpoint backing the result (the
    // per-round intermediates and the edge cache must be unpersisted)
    val chain = (0L until 24L).map(i => (i, i + 1)).toDF("a", "b")
    val before = spark.sparkContext.getPersistentRDDs.size
    val comp = Components.connectedComponents(chain, "a", "b")
    assert(comp.count() === 25)
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after - before <= 1,
      s"leaked ${after - before} cached RDDs across CC rounds")
  }

  test("a connected-components result stays readable after a later CC call") {
    // dd10 checkpoints its census over one CC result; dd06 then runs
    // another CC. Both frames must still count, in either order.
    val keeper = SparkEntry.queries("dd10_cluster_keeper")(spark, sf)
    val clusters = SparkEntry.queries("dd06_dedup_clusters")(spark, sf)
    assert(keeper.count() > 0)
    assert(clusters.count() > 0)
  }

  test("connected components: deep chain converges; non-convergence throws") {
    import graft.operators.Components
    // a 25-node chain needs many propagation rounds (diameter bound)
    val chain = (0L until 24L).map(i => (i, i + 1)).toDF("a", "b")
    val comp = Components.connectedComponents(chain, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size === 25 && comp.values.forall(_ == 0L))
    // with maxRounds too small the same input must FAIL LOUDLY, not
    // return split components
    val e = intercept[IllegalStateException] {
      Components.connectedComponents(chain, "a", "b", maxRounds = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("star-CC handles deep chains, self-loops, and empty input") {
    import graft.operators.Components
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Components.connectedComponentsStar(empty, "a", "b").count() === 0)
    // a 25-node chain: diameter 24 — propagation's worst case, but
    // star rounds collapse it logarithmically (would throw if it took
    // anywhere near the propagation count)
    val chain = (0L until 24L).map(i => (i, i + 1)).toDF("a", "b")
    val comp = Components.connectedComponentsStar(chain, "a", "b", maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size === 25 && comp.values.forall(_ == 0L))
    // self-loop + pair: loop node labels itself
    val mixed = Seq((5L, 5L), (10L, 11L)).toDF("a", "b")
    val m = Components.connectedComponentsStar(mixed, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m === Map(5L -> 5L, 10L -> 10L, 11L -> 10L))
  }

  test("tx08 winnowing tolerates docs shorter than the gram+window span") {
    // build a tiny documents table with degenerate texts and run the
    // same expression pipeline via a temp parquet dir
    val dir = java.nio.file.Files.createTempDirectory("graft-tx08").toString
    Seq((0L, "ab", "en", "s", 2L), (1L, "abcdefghij", "en", "s", 10L),
      (2L, "abcdefghijk", "en", "s", 11L), (3L, "a longer document body here", "en", "s", 27L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("tx08_winnowing")(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSet === Set(2L, 3L)) // only len >= 11 survive
    assert(out.forall(_.getLong(1) > 0))
  }
}
