package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-ladder data generator (VERDICT r8, next-round #8): replicate
  * the sf0.1 documents/embeddings tables N× so the dedup/similarity
  * tail can be measured one order of magnitude up.
  *
  * The replication is SIMILARITY-PARTITIONED by construction:
  *  - documents: every token in replica r gets the suffix `_r<r>`, so
  *    intra-replica Jaccard/shingle/minhash structure is EXACTLY the
  *    original's while cross-replica similarity is zero. Shingle DF
  *    distributions, LSH bucket occupancies and duplicate-cluster
  *    sizes are therefore preserved per replica and candidate-pair
  *    mass provably scales LINEARLY in N — which is precisely the
  *    property the banded designs claim and the ladder verifies.
  *    (Naive replication would make every doc a near-copy of its 9
  *    twins: cluster sizes ×N, candidate pairs ×N², and the ladder
  *    would measure the data, not the engine.)
  *  - embeddings: per-(replica, dimension) deterministic sign flips —
  *    norms and intra-replica geometry preserved exactly, replicas
  *    scattered in cosine space.
  *
  * Caveat for CHAR-cost operators: the token suffix adds ~3 chars per
  * token (mean doc length 297 → 460 chars, 1.55×), so a 10× ladder
  * carries ~15.5× character work. Token and shingle COUNTS are
  * unchanged. tx08 (winnowing, pure per-char compute) measured 14.2×
  * at "10×" — i.e. linear in chars, as designed; normalize by
  * sum(n_chars), not row count, when reading char-bound ladder legs.
  *
  * Usage: runMain graft.tools.ScaleData /root/testdata/sf0.1 tmp/sf1 10
  *          [documents,embeddings,events,facts,dims]
  * (4th arg limits which table groups are replicated; default all.)
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val reps = if (args.length > 2) args(2).toInt else 10
    // Optional 4th arg: comma list of table groups to replicate
    // ("documents,embeddings,events,facts,dims"; default all). A
    // 1000x EVENTS rung (VERDICT r12 #3: price stream state at
    // >=1.5M keys) must not pay 1000x document regex replication it
    // never reads.
    val want: Set[String] = args.lift(3)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set("documents", "embeddings", "events", "facts", "dims"))
    val spark = graft.core.ClusterConf.local(graft.Bench.cpus.toInt).getOrCreate()

    val rep = spark.range(reps.toLong).select(col("id").cast("int").as("rep"))

    if (want("documents")) {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    docs.crossJoin(broadcast(rep))
      .select(
        (col("doc_id") + col("rep").cast("long") * 10000000L).as("doc_id"),
        regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1_r"), col("rep"))).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    }

    if (want("embeddings")) {
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    emb.crossJoin(broadcast(rep))
      .select(
        (col("vec_id") + col("rep").cast("long") * 10000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(pmod(hash(col("rep"), i), lit(2)) === lit(0), x)
            .otherwise(negate(x)))
          .as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    }

    // events: per-replica id/user offsets keep every per-user stream's
    // session/gap structure exactly the original's; timestamps are
    // copied through, so per-hour volume scales xN — the realistic
    // scale-up for the streaming/session arms
    if (want("events")) {
    val ev = spark.read.parquet(s"$src/events.parquet")
    ev.crossJoin(broadcast(rep))
      .select(
        (col("event_id") + col("rep").cast("long") * 10000000L).as("event_id"),
        col("ts"),
        (col("user_id") + col("rep").cast("long") * 10000000L).as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    }

    // lineitem + orders: the SAME per-replica offset on every join key
    // (orderkey, custkey, suppkey, partkey) keeps replica subgraphs
    // disjoint and FK-consistent — graph ops (q56 PageRank, q77
    // wedges) scale linearly by construction instead of densifying
    if (want("facts")) {
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    li.crossJoin(broadcast(rep))
      .select(
        (col("l_orderkey") + col("rep").cast("long") * 10000000L).as("l_orderkey"),
        (col("l_partkey") + col("rep").cast("long") * 10000000L).as("l_partkey"),
        (col("l_suppkey") + col("rep").cast("long") * 10000000L).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    val ord = spark.read.parquet(s"$src/orders.parquet")
    ord.crossJoin(broadcast(rep))
      .select(Seq(
        (col("o_orderkey") + col("rep").cast("long") * 10000000L).as("o_orderkey"),
        (col("o_custkey") + col("rep").cast("long") * 10000000L).as("o_custkey")) ++
        ord.columns.filterNot(Set("o_orderkey", "o_custkey")).map(col): _*)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    }

    // Dimension tables (ADVICE r9): the fact offsets above reference
    // custkey/suppkey/partkey values in replicas > 0 that exist in no
    // source dim table — a dim-joining ladder leg would crash on the
    // missing parquet or silently match only replica 0 and bias the
    // reading. Replicate each dim with the SAME per-replica offset on
    // its primary key (FK-consistent by construction); nation/region
    // are referenced by unoffset c_nationkey/s_nationkey, so copy
    // those two verbatim.
    def replicateDim(table: String, key: String): Unit = {
      val d = spark.read.parquet(s"$src/$table.parquet")
      d.crossJoin(broadcast(rep))
        .select(Seq((col(key) + col("rep").cast("long") * 10000000L).as(key)) ++
          d.columns.filterNot(_ == key).map(col): _*)
        .repartition(8)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
    }
    if (want("dims")) {
    replicateDim("customer", "c_custkey")
    replicateDim("supplier", "s_suppkey")
    replicateDim("part", "p_partkey")
    Seq("nation", "region").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    }

    def countIf(group: String, table: String): String =
      if (want(group))
        s""""$table":${spark.read.parquet(s"$out/$table.parquet").count()}"""
      else s""""$table":-1"""
    println(s"""{"wrote":"$out","reps":$reps,""" +
      countIf("documents", "documents") + "," +
      countIf("embeddings", "embeddings") + "," +
      countIf("events", "events") + "," +
      countIf("facts", "lineitem") + "," +
      countIf("dims", "customer") + "}")
    spark.stop()
  }
}
