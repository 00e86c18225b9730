package graft

/** Shuffle-count regression gate (VERDICT r9 #5): every batch
  * operator's initial-plan Exchange count must not exceed the
  * committed docs/SHUFFLES.md budget. The explode-trap / stage-reuse
  * regression class (dd20, dd33, dd44, tx11, dd27/dd32) shows up as
  * exactly this diff, so the gate turns bench archaeology into a
  * failing test. Counting logic is shared with the generator
  * (graft.tools.ShuffleProbe) so both sides agree by construction.
  *
  * An operator BELOW budget is reported by the generator run, not
  * here — tightening is intentional work, growing is a regression.
  */
class ShuffleBudgetSpec extends SparkSpec {

  test("no batch operator's shuffle count grows vs docs/SHUFFLES.md") {
    val path = java.nio.file.Paths.get("docs/SHUFFLES.md")
    assert(java.nio.file.Files.exists(path),
      "docs/SHUFFLES.md missing — run: sbt \"runMain graft.tools.ShuffleProbe\"")
    // Header-anchored parsing (ADVICE r10): map column NAMES to
    // indices instead of trusting positional order, so a reordered
    // SHUFFLES.md fails here rather than silently pinning the
    // broadcast column as the shuffle budget.
    val rows = scala.jdk.CollectionConverters.IteratorHasAsScala(
      java.nio.file.Files.lines(path).iterator()).asScala
      .map(_.trim).filter(_.startsWith("| "))
      .map(_.split("\\|").map(_.trim).filter(_.nonEmpty).toSeq)
      .toSeq
    val header = rows.headOption.getOrElse(
      fail("docs/SHUFFLES.md has no table rows"))
    val opIdx = header.indexOf("operator")
    val shIdx = header.indexOf("shuffles")
    assert(opIdx >= 0 && shIdx >= 0,
      s"docs/SHUFFLES.md header $header lacks operator/shuffles columns")
    val budget = rows.drop(1)
      .filter(r => r.size > math.max(opIdx, shIdx) &&
        r(shIdx).nonEmpty && r(shIdx).forall(_.isDigit))
      .map(r => r(opIdx) -> r(shIdx).toInt).toMap
    val offenders = graft.tools.ShuffleProbe.batchOps.flatMap { name =>
      budget.get(name) match {
        case None =>
          Some(s"$name has no committed shuffle budget — regenerate " +
            "docs/SHUFFLES.md (runMain graft.tools.ShuffleProbe)")
        case Some(b) =>
          val (sh, _) = graft.tools.ShuffleProbe.countPlan(built(name).physical)
          if (sh > b) Some(s"$name shuffles grew $b -> $sh") else None
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("Bench.StreamingLane names exactly the operators whose build starts a stream") {
    // batchOps (and so this budget and the inventory's build order)
    // trusts the hand list; the inventory pass saw which builds
    // actually started a streaming query
    assert(Inventory.streaming(spark, sf) === Bench.StreamingLane)
  }

  test("positive control: the counter sees real Exchange nodes") {
    import org.apache.spark.sql.functions._
    // one hash-partition shuffle
    val agg = spark.range(100).groupBy(col("id") % 7).count()
    val (sh1, _) = graft.tools.ShuffleProbe.countPlan(agg)
    assert(sh1 >= 1, s"groupBy planned $sh1 shuffles")
    // a broadcast join adds a BroadcastExchange but no extra shuffle
    // on the fact side
    val dim = spark.range(5).select(col("id"), lit("x").as("tag"))
    val joined = spark.range(100).join(broadcast(dim), Seq("id"))
      .groupBy(col("tag")).count()
    val (sh2, bc2) = graft.tools.ShuffleProbe.countPlan(joined)
    assert(bc2 >= 1, s"broadcast join planned $bc2 broadcasts")
    assert(sh2 >= 1)
    // a de-barriered double consumer (the tx11/dd33 regression shape)
    // plans MORE shuffles than the single-consumer plan — the exact
    // diff the budget gate pins
    val base = spark.range(1000).select((col("id") % 13).as("k"))
    val twice = base.groupBy(col("k")).count()
      .union(base.groupBy(col("k")).count())
    val (shTwice, _) = graft.tools.ShuffleProbe.countPlan(twice)
    assert(shTwice >= 2 * sh1, s"double consumer planned $shTwice")
  }
}
