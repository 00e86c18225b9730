package graft

import org.apache.spark.sql.functions._

/** Every SparkEntry query must run at sf0.001 (exact values are the
  * driver's DuckDB gate; this is the fast structural smoke).
  */
class QueriesSmokeSpec extends SparkSpec {

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("entry runs on a bare session (no graft confs/extensions), like the driver smoke") {
    val bare = spark.newSession()
    bare.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    assert(SparkEntry.entry(bare).count() > 0)
  }

  test("every oracle has a query and every query has an oracle") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without query: ${o -- q}")
    assert((q -- o).isEmpty, s"unexpected rows-only queries: ${q -- o}")
  }

  test("q13 relational HLL stays within 15% of exact at every gated SF") {
    // raw-regime estimator (m=512, std err 4.6%): measured errors at
    // sf0.001/0.01/0.1 are +3.0..+10.1% (n ≈ 2m at the smallest SF)
    val rows = SparkEntry.queries("q13_approx_distinct")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val est = r.getAs[Long]("hll_orders").toDouble
      val exact = r.getAs[Long]("exact_orders").toDouble
      assert(math.abs(est - exact) / exact <= 0.15, s"$est vs $exact")
    }
  }

  test("native approx_count_distinct stays within 10% of exact") {
    // the native HLL++ showcase q13 used to carry (rsd 5% std-dev):
    // kept spec-side now that q13 gates the relational sketch exactly
    val rows = graft.core.Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority"))
      .agg(approx_count_distinct(col("o_custkey")).as("approx_customers"),
        countDistinct(col("o_custkey")).as("exact_customers"))
      .collect()
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_customers").toDouble
      val exact = r.getAs[Long]("exact_customers").toDouble
      assert(math.abs(approx - exact) / exact <= 0.10, s"$approx vs $exact")
    }
  }

  test("each query and oracle name is registered by exactly one operator object") {
    // a Map fold lets a later object silently shadow an earlier one's
    // operator of the same name
    assert(SparkEntry.operators.map(_.queries.size).sum === SparkEntry.queries.size)
    assert(SparkEntry.operators.map(_.oracles.size).sum === SparkEntry.oracleSql.size)
  }

  test("seven family objects, each owning exactly its own prefix") {
    // a duplicate key inside one family's Map(...) literal collapses
    // silently, so the per-family counts are pinned, not just summed
    import graft.operators._
    assert(SparkEntry.operators === Seq(EventPipeline, CoreAnalytics,
      TextAnalysis, Packing, Dedup, Similarity, Multimodal))
    val expected = Seq("ev" -> 83, "q" -> 82, "tx" -> 42, "pk" -> 27,
      "dd" -> 46, "ss" -> 40, "mm" -> 23)
    SparkEntry.operators.zip(expected).foreach { case (ops, (prefix, n)) =>
      val owned = s"^$prefix[0-9]+[a-z]?_.*"
      for (names <- Seq(ops.queries.keySet, ops.oracles.keySet)) {
        assert(names.filterNot(_.matches(owned)).isEmpty, s"$ops: $names")
        assert(names.size === n, s"$prefix count")
      }
    }
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size === 343)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      assert(df.count() >= 0)
    }
  }

  test("multimodal mapPartitions plumbing decodes batched payloads") {
    val docs = graft.core.Tables.documents(spark, sf)
    val media = graft.operators.Multimodal.asMedia(docs)
    val decoded = graft.operators.Multimodal.fakeDecode(media)
    val row = decoded.filter(decoded("media_id") === 0).head
    assert(row.getAs[Long]("feat_n_bytes") > 0)
    assert(row.getAs[Int]("feat_first") >= 0)
  }
}
