package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the clustering
  * step that turns near-duplicate candidate PAIRS (dd02/dd03/dd05
  * output) into dedup GROUPS with one keeper each.
  *
  * Algorithm: iterative min-label propagation to a fixpoint. Each
  * round is one shuffle-join (edges ⋈ labels) + one aggregate; the
  * frame is localCheckpoint'ed between rounds so round N's lineage
  * does not replay rounds 1..N-1. Convergence takes O(component
  * diameter) rounds — near-dup graphs are star-like, so 2-4 rounds in
  * practice. The driver-side loop holds only a scalar (the changed
  * count); all data stays distributed. This is the standard Spark CC
  * shape (the large/small-star optimization drops in here if
  * components ever get deep).
  */
object Components {

  /** Drop the cached blocks behind a localCheckpoint'd frame (or a
    * projection of one). Only call once no live frame depends on the
    * checkpoint — local checkpoints truncate lineage, so evicted
    * blocks cannot be recomputed.
    */
  private def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** @param pairs  undirected edges, two long columns
    * @return (node, comp) — comp = min node id reachable. The frame is
    *         backed by the final round's local checkpoint; all
    *         intermediate round checkpoints (and the edge cache) are
    *         unpersisted before returning. The result checkpoint lives
    *         as long as the frame: Spark's ContextCleaner reclaims it
    *         once the frame is unreachable, so any number of results
    *         can be held and read in any order.
    */
  def connectedComponents(
      pairs: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 30): DataFrame = {
    val edges = pairs.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .unionByName(pairs.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .localCheckpoint()
    var comp = edges.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node"))
      .localCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds <= maxRounds) {
      if (rounds == maxRounds)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxRounds rounds " +
            s"($changed labels still moving) — component diameter exceeds " +
            "maxRounds; raise it or switch to large/small-star rounds")
      // One-exchange round (r14, guide §2.4): the old shape was
      // join → groupBy(src) → LEFT-join back onto comp — three keyed
      // exchanges per round. Label messages and each node's own label
      // are the SAME relation shape, so union them and take one
      // aggregate: min over all rows is the propagated label, min over
      // the own row (exactly one per node) recovers the previous label
      // for the convergence count. Same fixpoint, one exchange.
      val msgs = edges.join(comp, edges("dst") === comp("node"))
        .select(edges("src").as("node"), col("comp"), lit(false).as("own"))
      val next = comp.select(col("node"), col("comp"), lit(true).as("own"))
        .unionByName(msgs)
        .groupBy(col("node"))
        .agg(min(col("comp")).as("new_comp"),
          min(when(col("own"), col("comp"))).as("old_comp"))
        .localCheckpoint()
      changed = next.filter(col("new_comp") < col("old_comp")).count()
      // next is fully materialized (eager checkpoint) — the previous
      // round's blocks are dead; without this, one RDD leaks per round
      // for the life of the session
      release(comp)
      comp = next.select(col("node"), col("new_comp").as("comp"))
      rounds += 1
    }
    release(edges)
    comp
  }

  /** Connected components via alternating large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — O(log n) rounds regardless of component DIAMETER,
    * where min-label propagation needs O(diameter) rounds. Near-dup
    * graphs are star-like so propagation usually wins on constants;
    * this is the scale path for deep/chain-shaped graphs (URL chains,
    * citation paths) where diameter ~ n.
    *
    * Each round: large-star hangs every strictly-larger neighbor onto
    * the neighborhood minimum, small-star hangs the smaller ones;
    * at the fixpoint the edge set is exactly one star per component,
    * centered at the component minimum. Rounds are groupBy+join (the
    * same shuffle shape as propagation) with per-round checkpoints;
    * intermediate caches release as soon as the successor is
    * materialized.
    *
    * @return (node, comp) — identical contract to
    *         [[connectedComponents]], including isolated self-loop
    *         nodes labeling themselves.
    */
  def connectedComponentsStar(
      pairs: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int = 50): DataFrame = {
    val raw = pairs.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val nodes = raw.select(col("src").as("node"))
      .unionByName(raw.select(col("dst").as("node")))
      .distinct().localCheckpoint()
    // canonical orientation u > v; self-loops carry no connectivity
    var edges = raw.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .distinct().localCheckpoint()
    var edgeCount = edges.count()
    var converged = edgeCount == 0L
    var rounds = 0
    while (!converged && rounds <= maxRounds) {
      if (rounds == maxRounds)
        throw new IllegalStateException(
          s"connectedComponentsStar did not converge in $maxRounds rounds " +
            "— not expected for any graph (bound is O(log^2 n)); check for " +
            "nondeterministic input")
      // large-star: over bidirectional neighborhoods, every neighbor
      // b > a hangs onto m = min(Γ(a) ∪ {a})
      val bi = edges.select(col("u").as("a"), col("v").as("b"))
        .unionByName(edges.select(col("v").as("a"), col("u").as("b")))
      val minsL = bi.groupBy(col("a"))
        .agg(min(col("b")).as("mb"))
        .select(col("a"), least(col("mb"), col("a")).as("m"))
      // FUSED round (r14, VERDICT r13 #6): no checkpoint between the
      // large-star and small-star halves — one materialization job per
      // round instead of two. afterLarge's two consumers (minsS and
      // hangNbrs) are canonical-identical subtrees, so the exchange
      // feeding its distinct is planned once and reused; lineage stays
      // bounded because the round still starts from checkpointed edges.
      val afterLarge = bi.join(minsL, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("u"), col("m").as("v")) // b > a ≥ m
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: per larger endpoint u, all smaller neighbors (and
      // u itself) hang onto m = min of the smaller neighborhood
      val minsS = afterLarge.groupBy(col("u")).agg(min(col("v")).as("m"))
      val hangSelf = minsS.select(col("u"), col("m").as("v"))
      val hangNbrs = afterLarge.join(minsS, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val next = hangSelf.unionByName(hangNbrs)
        .filter(col("u") =!= col("v"))
        .distinct().localCheckpoint()
      // fixpoint test: carry the edge count across rounds (one count
      // job per round, not two) and pay the exceptAll scan only on
      // the count-match path — a stable round maps E to E, so equal
      // counts are necessary and the set-diff confirms sufficiency
      val nextCount = next.count()
      converged = nextCount == edgeCount && next.exceptAll(edges).isEmpty
      edgeCount = nextCount
      release(edges)
      edges = next
      rounds += 1
    }
    // fixpoint: edges are (member, component-min) stars
    val labels = edges.groupBy(col("u").as("node")).agg(min(col("v")).as("lbl"))
    val out = nodes.join(labels, Seq("node"), "left")
      .select(col("node"), coalesce(col("lbl"), col("node")).as("comp"))
      .localCheckpoint()
    release(edges)
    release(nodes)
    out
  }
}
