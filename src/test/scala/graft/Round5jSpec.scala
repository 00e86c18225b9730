package graft

import org.apache.spark.sql.functions._
import graft.operators.{TextAnalysis, CoreAnalytics, Packing}
import graft.core.Tables

/** Round-5 tenth-wave operators: length bucketing, weekly
  * seasonality, Zipf octaves.
  */
class Round5jSpec extends SparkSpec {

  // --- pk09: length buckets ----------------------------------------

  test("pk09 buckets tile the corpus and waste arithmetic recounts") {
    val got = Packing.queries("pk09_length_buckets")(spark, sf).collect()
    assert(got.nonEmpty)
    val nDocs = Tables.documents(spark, sf)
      .filter(size(TextAnalysis.tokens(col("text"))) > 0).count()
    assert(got.map(_.getAs[Long]("n_docs")).sum === nDocs,
      "every non-empty doc lands in exactly one bucket")
    got.foreach { r =>
      val b = r.getAs[Int]("bucket")
      val cap = r.getAs[Long]("cap_tokens")
      // the observed cap sits inside the bucket's dyadic range
      assert(cap >= (1L << b) && cap < (1L << (b + 1)))
      val n = r.getAs[Long]("n_docs"); val s = r.getAs[Long]("sum_tokens")
      assert(r.getAs[Long]("bucket_waste_fx") === (n * cap - s) * 1000000L / (n * cap))
      assert(r.getAs[Long]("saved_vs_global_fx") >= 0L)
    }
    // the bucket holding the global max saves nothing vs global padding
    val top = got.maxBy(_.getAs[Int]("bucket"))
    assert(top.getAs[Long]("saved_vs_global_fx") === 0L)
  }

  // --- q44: weekly seasonality -------------------------------------

  test("q44 grid keys are in range and shares sum to ~1 per type") {
    val got = CoreAnalytics.queries("q44_hour_seasonality")(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      assert(r.getAs[Int]("dow") >= 0 && r.getAs[Int]("dow") <= 6)
      assert(r.getAs[Int]("hour") >= 0 && r.getAs[Int]("hour") <= 23)
    }
    assert(got.map(_.getAs[Long]("n")).sum === Tables.events(spark, sf).count(),
      "every event lands in exactly one cell")
    got.groupBy(_.getAs[String]("event_type")).foreach { case (_, rows) =>
      val s = rows.map(_.getAs[Long]("share_fx")).sum
      // floor division loses at most 1 millionth per cell
      assert(s <= 1000000L && s > 1000000L - rows.length)
    }
  }

  test("q44 dow/hour replay against java.time for a sampled event") {
    val got = CoreAnalytics.queries("q44_hour_seasonality")(spark, sf)
    val ev = Tables.events(spark, sf)
      .select(col("ts"), col("event_type")).limit(1).collect()(0)
    val ins = ev.getAs[java.sql.Timestamp]("ts").toInstant
      .atZone(java.time.ZoneOffset.UTC)
    // java.time: SUNDAY.getValue == 7; the operator uses 0=Sunday
    val wantDow = ins.getDayOfWeek.getValue % 7
    val cell = got.filter(col("event_type") === ev.getAs[String]("event_type") &&
      col("dow") === wantDow && col("hour") === ins.getHour).collect()
    assert(cell.length === 1, "the sampled event's cell exists exactly once")
  }

  test("q44 full grid replays exactly through java.time calendar arithmetic") {
    // The strongest independent check: recount EVERY (type, dow, hour)
    // cell with java.time (a third engine next to Spark's integer
    // arithmetic and DuckDB's //) and require the whole grid to match
    // cell-for-cell — counts included, not just cell existence.
    val want = Tables.events(spark, sf)
      .select(col("event_type"), col("ts")).collect()
      .map { r =>
        val z = r.getAs[java.sql.Timestamp]("ts").toInstant
          .atZone(java.time.ZoneOffset.UTC)
        (r.getAs[String]("event_type"), z.getDayOfWeek.getValue % 7, z.getHour)
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = CoreAnalytics.queries("q44_hour_seasonality")(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Int]("dow"),
        r.getAs[Int]("hour")) -> r.getAs[Long]("n")).toMap
    assert(got === want, "java.time grid replay")
  }

  // --- tx21: Zipf octaves ------------------------------------------

  test("tx21 octaves cover the vocab and the mass conserves") {
    val got = TextAnalysis.queries("tx21_zipf_octaves")(spark, sf).collect()
    assert(got.nonEmpty)
    val octs = got.map(_.getAs[Int]("octave"))
    assert(octs.toSeq === (0 until octs.length), "octaves are contiguous from 0")
    // octave k holds at most 2^k ranks, octave 0 exactly one
    got.foreach { r =>
      val k = r.getAs[Int]("octave")
      assert(r.getAs[Long]("n_toks") <= (1L << k))
    }
    assert(got.head.getAs[Long]("n_toks") === 1L)
    // total mass equals the corpus token count
    val toks = Tables.documents(spark, sf)
      .select(explode(TextAnalysis.tokens(col("text"))).as("t"))
      .filter(col("t") =!= "").count()
    assert(got.map(_.getAs[Long]("mass")).sum === toks)
    // decay: first row has no predecessor, later rows are positive
    assert(got.head.isNullAt(got.head.fieldIndex("decay_fx")))
    assert(got.tail.forall(_.getAs[Long]("decay_fx") > 0L))
    // Zipf head dominance: octave 0 (the top token) carries more mass
    // than its 1/|V| share
    val total = got.map(_.getAs[Long]("mass")).sum
    assert(got.head.getAs[Long]("mass").toDouble / total >
      1.0 / got.map(_.getAs[Long]("n_toks")).sum)
  }

  test("tx21 interval arithmetic equals the direct global row_number census") {
    // Pin the two-level rank-range decomposition against the naive
    // construction it replaced (global row_number over the vocab,
    // fine at test SF): the octave census must be bit-identical even
    // though no per-token rank is ever materialized in the shipped
    // plan.
    import org.apache.spark.sql.expressions.Window
    val vocab = Tables.documents(spark, sf)
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val naive = vocab
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("tok"))).cast("long"))
      .withColumn("octave", (length(bin(col("rank"))) - 1).cast("int"))
      .groupBy(col("octave"))
      .agg(count(lit(1)).as("n_toks"), sum(col("freq")).cast("long").as("mass"))
      .collect().map(r => r.getAs[Int]("octave") ->
        (r.getAs[Long]("n_toks"), r.getAs[Long]("mass"))).toMap
    val got = TextAnalysis.queries("tx21_zipf_octaves")(spark, sf).collect()
      .map(r => r.getAs[Int]("octave") ->
        (r.getAs[Long]("n_toks"), r.getAs[Long]("mass"))).toMap
    assert(got === naive)
  }
}
