package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Round-8 seventeenth wave: checkpoint replay pricing (ev80), IVF
  * query-routing skew (ss38), conditional entropy rate (tx41).
  *
  * ev80 prices the checkpoint-interval dial the way ev64 priced
  * compaction debt: a failure replays everything since the last
  * commit, so the worst case per (type, interval) is the largest
  * commit-window volume — windows align to absolute epoch hours
  * (`eh div c`), no global-min broadcast needed.
  *
  * ss38's point is that serving load is NOT cell size: queries route
  * to their nprobe nearest centroids, and a hot centroid (dense
  * region) draws far more probes than its fair share — the skew this
  * census measures is what picks replication factors per IVF shard.
  */
object Round8q extends Operators {

  private val Fx = 10000L

  /** ev80: commit intervals (hours) priced. */
  private val Commits = Seq(1L, 6L, 24L)

  /** ss38: routing fanout and the deterministic query panel. */
  private val RoutingProbe = 2
  private val PanelMod = 19L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- ev80: checkpoint replay pricing -------------------------------
    "ev80_replay_cost" -> { (s, d) =>
      val hours = Dedup.barrier(Tables.events(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("eh"))
        .groupBy(col("event_type"), col("eh"))
        .agg(count(lit(1)).cast("long").as("n")))
      Commits.map { c =>
        hours.groupBy(col("event_type"), expr(s"eh div $c").as("w"))
          .agg(sum(col("n")).cast("long").as("wn"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).cast("long").as("n_windows"),
            max(col("wn")).cast("long").as("max_replay"),
            expr(s"sum(wn) * $Fx div count(1)").cast("long")
              .as("mean_replay_fx"),
            sum(col("wn")).cast("long").as("total"))
          .select(lit(c).as("commit_hours"), col("event_type"),
            col("n_windows"), col("max_replay"), col("mean_replay_fx"),
            expr(s"max_replay * $Fx div total").as("worst_share_fx"))
      }.reduce(_ unionByName _)
        .orderBy(col("commit_hours"), col("event_type"))
    },

    // --- ss38: IVF query-routing skew -----------------------------------
    // Label centroids (ss04's construction), a deterministic query
    // panel (vec_id % 19), each query routed to its 2 nearest
    // centroids by floored-fx cosine (ties to the lower label). Load
    // census per cell: probes drawn vs the cell's fair share by size.
    "ss38_routing_skew" -> { (s, d) =>
      val e = Dedup.barrier(Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("emb"))
        .withColumn("norm", Similarity.l2norm(col("emb"))))
      val dims = e.select(col("label"), posexplode(col("emb")))
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("col").cast("decimal(27,10)")).cast("double")
          / count(lit(1))).as("c"))
      val cents = dims.groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          x => x.getField("c")).as("cent"))
        .withColumn("c_norm", Similarity.l2norm(col("cent")))
      val panel = e.filter(pmod(col("vec_id"), lit(PanelMod)) === 0)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
          col("norm").as("q_norm"))
      val routed = panel.crossJoin(broadcast(cents))
        .withColumn("cos_fx", floor(
          Similarity.dot(col("q_emb"), col("cent"))
            / (col("q_norm") * col("c_norm")) * Fx).cast("long"))
        .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("cos_fx").desc, col("label"))))
        .filter(col("rk") <= RoutingProbe)
      val probes = routed.groupBy(col("label"))
        .agg(count(lit(1)).cast("long").as("n_probes"))
      val sizes = e.groupBy(col("label"))
        .agg(count(lit(1)).cast("long").as("n_vecs"))
      val totals = e.agg(count(lit(1)).cast("long").as("total_vecs"),
        (sum(when(pmod(col("vec_id"), lit(PanelMod)) === 0, 1L)
          .otherwise(0L)) * RoutingProbe).cast("long").as("total_probes"))
      sizes.join(probes, Seq("label"), "left")
        .withColumn("n_probes", coalesce(col("n_probes"), lit(0L)))
        .crossJoin(broadcast(totals))
        .withColumn("probe_share_fx", expr(s"n_probes * $Fx div total_probes"))
        .withColumn("fair_share_fx", expr(s"n_vecs * $Fx div total_vecs"))
        .withColumn("skew_fx",
          expr(s"probe_share_fx * $Fx div greatest(fair_share_fx, 1)"))
        .select(col("label"), col("n_vecs"), col("n_probes"),
          col("probe_share_fx"), col("fair_share_fx"), col("skew_fx"))
        .orderBy(col("label"))
    },

    // --- tx41: conditional entropy rate per language --------------------
    // tx38 filters DOCS by surprisal; tx41 censuses the CORPUS:
    // per-language entropy rate ≈ Σ c12·(⌊log2 c1⌋ − ⌊log2 c12⌋) / N
    // in integer bit lengths — the redundancy signal that separates
    // natural prose (low rate, heavy reuse) from shuffled/templated
    // text. Vocab²-bounded state: one bigram aggregate + its
    // first-word marginal fold.
    "tx41_entropy_rate" -> { (s, d) =>
      val bg = Dedup.barrier(Tables.documents(s, d)
        .withColumn("toks", split(trim(col("text")), "\\s+"))
        .filter(size(col("toks")) >= 2)
        .select(col("lang"), explode(transform(
          sequence(lit(0), size(col("toks")) - 2),
          i => struct(element_at(col("toks"), i + 1).as("w1"),
            element_at(col("toks"), i + 2).as("w2")))).as("b"))
        .groupBy(col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        .agg(count(lit(1)).cast("long").as("c12")))
      val m1 = bg.groupBy(col("lang"), col("w1"))
        .agg(sum(col("c12")).cast("long").as("c1"))
      bg.join(m1, Seq("lang", "w1"))
        .withColumn("s_oct", ((length(bin(col("c1"))) - 1)
          - (length(bin(col("c12"))) - 1)).cast("long"))
        .groupBy(col("lang"))
        .agg(sum(col("c12")).cast("long").as("n_bigrams"),
          count(lit(1)).cast("long").as("n_distinct_bigrams"),
          expr(s"sum(c12 * s_oct) * $Fx div sum(c12)").cast("long")
            .as("entropy_rate_fx"),
          expr(s"sum(if(s_oct = 0, c12, 0)) * $Fx div sum(c12)").cast("long")
            .as("deterministic_share_fx"))
        .orderBy(col("lang"))
    })

  def oracles: Map[String, String] = Map(
    "ev80_replay_cost" -> {
      val arms = Commits.map { c =>
        s"""SELECT CAST($c AS BIGINT) AS commit_hours, event_type,
           |    CAST(COUNT(*) AS BIGINT) AS n_windows,
           |    CAST(MAX(wn) AS BIGINT) AS max_replay,
           |    CAST(CAST(SUM(wn) AS BIGINT) * $Fx // COUNT(*) AS BIGINT)
           |      AS mean_replay_fx,
           |    CAST(MAX(wn) * $Fx // CAST(SUM(wn) AS BIGINT) AS BIGINT)
           |      AS worst_share_fx
           |  FROM (SELECT event_type, eh // $c AS w,
           |      CAST(SUM(n) AS BIGINT) AS wn
           |    FROM hours GROUP BY 1, 2)
           |  GROUP BY event_type""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH hours AS (
         |  SELECT event_type, epoch_us(ts) // 3600000000 AS eh,
         |    CAST(COUNT(*) AS BIGINT) AS n
         |  FROM events GROUP BY 1, 2),
         |arms AS (
         |  $arms)
         |SELECT * FROM arms ORDER BY commit_hours, event_type""".stripMargin
    },

    "ss38_routing_skew" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
         |  FROM embeddings),
         |en AS (
         |  SELECT vec_id, label, emb,
         |    sqrt(list_sum(list_transform(emb, x -> x * x))) AS norm FROM e),
         |dims AS (
         |  SELECT label, i,
         |    CAST(SUM(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*) AS c
         |  FROM (SELECT label, generate_subscripts(emb, 1) - 1 AS i,
         |    unnest(emb) AS v FROM e)
         |  GROUP BY label, i),
         |cents AS (SELECT label, list(c ORDER BY i) AS cent FROM dims
         |  GROUP BY label),
         |cn AS (
         |  SELECT label, cent,
         |    sqrt(list_sum(list_transform(cent, x -> x * x))) AS c_norm
         |  FROM cents),
         |panel AS (
         |  SELECT vec_id AS q_id, emb AS q_emb, norm AS q_norm
         |  FROM en WHERE vec_id % $PanelMod = 0),
         |routed AS (
         |  SELECT label FROM (
         |    SELECT cn.label, row_number() OVER (PARTITION BY q_id ORDER BY
         |      CAST(floor(list_sum(list_transform(range(len(q_emb)),
         |        i -> q_emb[i+1] * cent[i+1])) / (q_norm * c_norm) * $Fx)
         |        AS BIGINT) DESC, cn.label) AS rk
         |    FROM panel CROSS JOIN cn)
         |  WHERE rk <= $RoutingProbe),
         |probes AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_probes
         |  FROM routed GROUP BY label),
         |sizes AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs
         |  FROM en GROUP BY label),
         |tot AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS total_vecs,
         |    CAST(SUM(CASE WHEN vec_id % $PanelMod = 0 THEN 1 ELSE 0 END)
         |      * $RoutingProbe AS BIGINT) AS total_probes
         |  FROM en)
         |SELECT s.label, n_vecs,
         |  CAST(COALESCE(n_probes, 0) AS BIGINT) AS n_probes,
         |  CAST(COALESCE(n_probes, 0) * $Fx // total_probes AS BIGINT)
         |    AS probe_share_fx,
         |  CAST(n_vecs * $Fx // total_vecs AS BIGINT) AS fair_share_fx,
         |  CAST((COALESCE(n_probes, 0) * $Fx // total_probes) * $Fx
         |    // GREATEST(n_vecs * $Fx // total_vecs, 1) AS BIGINT) AS skew_fx
         |FROM sizes s LEFT JOIN probes p ON p.label = s.label
         |CROSS JOIN tot ORDER BY s.label""".stripMargin,

    "tx41_entropy_rate" ->
      s"""WITH base AS (
         |  SELECT lang, ${Dedup.duckToks} AS toks FROM documents
         |  WHERE len(${Dedup.duckToks}) >= 2),
         |idx AS (
         |  SELECT lang, toks, unnest(range(len(toks) - 1)) AS i FROM base),
         |bg AS (
         |  SELECT lang, toks[i+1] AS w1, toks[i+2] AS w2,
         |    CAST(COUNT(*) AS BIGINT) AS c12
         |  FROM idx GROUP BY 1, 2, 3),
         |m1 AS (
         |  SELECT lang, w1, CAST(SUM(c12) AS BIGINT) AS c1
         |  FROM bg GROUP BY 1, 2),
         |j AS (
         |  SELECT bg.lang, c12,
         |    CAST((length(bin(c1)) - 1) - (length(bin(c12)) - 1) AS BIGINT)
         |      AS s_oct
         |  FROM bg JOIN m1 ON m1.lang = bg.lang AND m1.w1 = bg.w1)
         |SELECT lang, CAST(SUM(c12) AS BIGINT) AS n_bigrams,
         |  CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
         |  CAST(CAST(SUM(c12 * s_oct) AS BIGINT) * $Fx
         |    // CAST(SUM(c12) AS BIGINT) AS BIGINT) AS entropy_rate_fx,
         |  CAST(CAST(SUM(CASE WHEN s_oct = 0 THEN c12 ELSE 0 END) AS BIGINT)
         |    * $Fx // CAST(SUM(c12) AS BIGINT) AS BIGINT)
         |    AS deterministic_share_fx
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin)
}
