package graft

import org.apache.spark.sql.functions._

/** Round-4b additions: value-level checks against driver-side
  * recomputes at sf0.001 (the DuckDB gate is the authority at sf0.01;
  * these pin the semantics independently of both engines).
  */
class Round4bSpec extends SparkSpec {

  private lazy val docs = graft.core.Tables.documents(spark, sf)
    .select(col("doc_id"), col("text"), col("lang"))
    .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))

  private lazy val events = graft.core.Tables.events(spark, sf)
    .select(col("user_id"), col("event_type"), expr("unix_micros(ts)"), col("value"))
    .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))

  private def toks(text: String): Array[String] = text.trim.split("\\s+")

  test("tx14 TTR matches a driver-side recompute") {
    val expected = docs.map { case (id, text, _) =>
      val t = toks(text)
      val counts = t.groupBy(identity).map(_._2.length)
      (id, (t.length.toLong, counts.size.toLong, counts.count(_ == 1).toLong))
    }.toMap
    val rows = SparkEntry.queries("tx14_ttr_diversity")(spark, sf).collect()
    assert(rows.length === expected.size)
    rows.foreach { r =>
      val (nTok, nTyp, nHap) = expected(r.getAs[Long]("doc_id"))
      assert(r.getAs[Long]("n_tokens") === nTok)
      assert(r.getAs[Long]("n_types") === nTyp)
      assert(r.getAs[Double]("ttr") === math.floor(nTyp.toDouble / nTok * 10000) / 10000)
      assert(r.getAs[Double]("hapax_frac") === math.floor(nHap.toDouble / nTyp * 10000) / 10000)
    }
  }

  test("tx15 precision/recall match a driver-side rerun of the guesser") {
    val markers = operators.TextAnalysis.LangMarkers.toMap
    def guess(text: String): String = {
      val t = toks(text)
      val s = Seq("en", "es", "de", "fr").map(l => l -> t.count(markers(l).contains)).toMap
      if (s("en") >= s("es") && s("en") >= s("de") && s("en") >= s("fr") && s("en") > 0) "en"
      else if (s("es") >= s("de") && s("es") >= s("fr") && s("es") > 0) "es"
      else if (s("de") >= s("fr") && s("de") > 0) "de"
      else if (s("fr") > 0) "fr"
      else "unk"
    }
    val guessed = docs.map { case (_, text, lang) => (lang, guess(text)) }
    val rows = SparkEntry.queries("tx15_langid_eval")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("lang")).toSet === guessed.map(_._1).toSet)
    rows.foreach { r =>
      val lang = r.getAs[String]("lang")
      val gold = guessed.count(_._1 == lang).toLong
      val pred = guessed.count(_._2 == lang).toLong
      val correct = guessed.count(g => g._1 == lang && g._2 == lang).toLong
      assert(r.getAs[Long]("n_gold") === gold)
      assert(r.getAs[Long]("n_pred") === pred)
      assert(r.getAs[Long]("n_correct") === correct)
      if (pred > 0)
        assert(r.getAs[Double]("precision") ===
          math.floor(correct.toDouble / pred * 10000) / 10000)
      else assert(r.isNullAt(r.fieldIndex("precision")))
    }
    // the harness must expose the guesser's real blind spot: zh has no
    // markers, so its recall is 0 and it never appears as a prediction
    val zh = rows.find(_.getAs[String]("lang") == "zh").get
    assert(zh.getAs[Long]("n_pred") === 0L && zh.getAs[Double]("recall") === 0.0)
  }

  test("q34 anomaly census matches an exact BigInt recompute of the sigma test") {
    val byType = events.groupBy(_._2)
    val expected = byType.map { case (tpe, es) =>
      val pts = es.map(e => (e._3 / 3600000000L, math.floor(e._4 * 1000000.0).toLong))
      val hours = pts.groupBy(_._1)
      var eligible = 0L; var anomalies = 0L
      pts.foreach { case (hr, v) =>
        val win = (hr - 23 to hr).flatMap(h => hours.getOrElse(h, Array.empty).map(_._2))
        val n = BigInt(win.length); val s = win.map(BigInt(_)).sum
        val q = win.map(x => BigInt(x) * x).sum
        if (n >= 30) {
          eligible += 1
          val lhs = BigInt(v) * n - s
          if (lhs * lhs > 9 * (n * q - s * s)) anomalies += 1
        }
      }
      tpe -> ((es.length.toLong, eligible, anomalies))
    }
    val rows = SparkEntry.queries("q34_anomaly_zscore")(spark, sf).collect()
    assert(rows.length === expected.size)
    rows.foreach { r =>
      val (n, el, an) = expected(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_events") === n)
      assert(r.getAs[Long]("n_eligible") === el)
      assert(r.getAs[Long]("n_anomalies") === an)
    }
  }

  test("q36 attribution census matches a driver-side as-of recompute") {
    val purchases = events.filter(_._2 == "purchase")
    val touches = events.filter(_._2 != "purchase")
    val byUser = touches.groupBy(_._1)
    val attributed = purchases.map { p =>
      val prior = byUser.getOrElse(p._1, Array.empty)
        .filter(_._3 <= p._3)
      val last = if (prior.isEmpty) None else Some(prior.maxBy(_._3))
      val attr = last match {
        case Some(l) if l._3 >= p._3 - 86400000000L => l._2
        case _ => "direct"
      }
      (attr, math.floor(p._4 * 1000000.0).toLong)
    }
    val rows = SparkEntry.queries("q36_last_touch")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("n_purchases")).sum === purchases.length.toLong)
    rows.foreach { r =>
      val of = attributed.filter(_._1 == r.getAs[String]("attributed"))
      assert(r.getAs[Long]("n_purchases") === of.length.toLong)
      assert(r.getAs[Long]("value_us") === of.map(_._2).sum)
    }
    assert(rows.map(_.getAs[String]("attributed")).toSet ===
      attributed.map(_._1).toSet)
  }

  test("ev27 throttle census matches a driver-side sliding-window recompute") {
    val limit = operators.EventPipeline.RateLimit
    // per-event trailing 24h count within the user's event set
    val cnts = events.groupBy(_._1).toSeq.flatMap { case (_, es) =>
      es.toSeq.map { e =>
        (e, es.count(o => o._3 >= e._3 - 86399999999L && o._3 <= e._3).toLong)
      }
    }
    val rows = SparkEntry.queries("ev27_rate_limit")(spark, sf).collect()
    rows.foreach { r =>
      val tpe = r.getAs[String]("event_type")
      val ofType = cnts.filter(_._1._2 == tpe)
      assert(r.getAs[Long]("n_events") === ofType.length.toLong)
      assert(r.getAs[Long]("n_throttled") === ofType.count(_._2 > limit).toLong)
      assert(r.getAs[Long]("n_users_throttled") ===
        ofType.filter(_._2 > limit).map(_._1._1).distinct.length.toLong)
      assert(r.getAs[Long]("max_burst") === ofType.map(_._2).max)
    }
  }

  test("ss10 quantization census matches a driver-side recompute") {
    val vecs = graft.core.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val dims = vecs.head._3.length
    val mins = (0 until dims).map(i => vecs.map(_._3(i)).min).toArray
    val maxs = (0 until dims).map(i => vecs.map(_._3(i)).max).toArray
    def recon(v: Array[Double]): Array[Double] =
      v.indices.map { i =>
        if (maxs(i) == mins(i)) mins(i)
        else mins(i) +
          math.floor((v(i) - mins(i)) / (maxs(i) - mins(i)) * 255 + 0.5) / 255.0 * (maxs(i) - mins(i))
      }.toArray
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum
    val perVec = vecs.map { case (_, label, v) =>
      val r = recon(v)
      val cos = dot(v, r) / (math.sqrt(dot(v, v)) * math.sqrt(dot(r, r)))
      (label, math.floor(cos * 10000).toLong, v.indices.map(i => math.abs(v(i) - r(i))).max)
    }
    val rows = SparkEntry.queries("ss10_scalar_quant")(spark, sf).collect()
    rows.foreach { row =>
      val ofLabel = perVec.filter(_._1 == row.getAs[Int]("label"))
      assert(row.getAs[Long]("n_vecs") === ofLabel.length.toLong)
      val avg = math.floor(
        ofLabel.map(_._2).sum.toDouble / (ofLabel.length * 10000.0) * 10000) / 10000
      assert(row.getAs[Double]("avg_recon_cos") === avg)
      // int8 quantization must preserve geometry: this is the dial the
      // census exists to report
      assert(row.getAs[Double]("avg_recon_cos") > 0.999)
    }
  }

  test("dd15 prefix-filtered containment equals the all-directed-pairs definition") {
    val shingleSets = docs
      .map { case (id, text, _) => (id, toks(text)) }
      .filter(_._2.length >= 3)
      .map { case (id, t) =>
        (id, t.sliding(3).map(_.mkString(" ")).toSet)
      }
    val expected = (for {
      (ida, sa) <- shingleSets
      (idb, sb) <- shingleSets
      if ida != idb
      c = math.floor(sa.intersect(sb).size.toDouble / sa.size * 10000) / 10000
      if c >= operators.Dedup.ContainT
    } yield (ida, idb, c)).toSet
    val got = SparkEntry.queries("dd15_containment")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("containment"))).toSet
    assert(got === expected)
    assert(expected.nonEmpty, "test data should contain near-subset pairs")
  }

  test("pk03 padding census matches a driver-side recompute") {
    val buckets = docs.map { case (_, text, _) => toks(text).length.toLong }
      .groupBy(n => math.ceil(n / 64.0).toLong * 64)
    val rows = SparkEntry.queries("pk03_pad_waste")(spark, sf).collect()
    assert(rows.length === buckets.size)
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      val ns = buckets(b)
      assert(r.getAs[Long]("n_docs") === ns.length.toLong)
      assert(r.getAs[Long]("sum_tokens") === ns.sum)
      assert(r.getAs[Long]("padded") === ns.length * b)
    }
  }

  test("tx16 gram-duplication census matches a driver-side recompute") {
    val withGrams = docs.map { case (id, text, _) => (id, toks(text)) }
      .filter(_._2.length >= 13)
      .map { case (id, t) => (id, t.sliding(13).map(_.mkString(" ")).toSet) }
    val dfc = withGrams.flatMap(_._2).groupBy(identity).map { case (g, o) => g -> o.length }
    val sources = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val perDoc = withGrams.map { case (id, gs) =>
      (sources(id), math.floor(
        gs.count(g => dfc(g) >= 2).toDouble / gs.size * 10000).toLong)
    }
    val rows = SparkEntry.queries("tx16_gram_dup_rate")(spark, sf).collect()
    rows.foreach { r =>
      val ofSrc = perDoc.filter(_._1 == r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") === ofSrc.length.toLong)
      assert(r.getAs[Double]("avg_dup_frac") === math.floor(
        ofSrc.map(_._2).sum.toDouble / (ofSrc.length * 10000.0) * 10000) / 10000)
      assert(r.getAs[Long]("n_dupy_docs") === ofSrc.count(_._2 >= 5000).toLong)
    }
    assert(rows.map(_.getAs[Long]("n_docs")).sum === withGrams.length.toLong)
  }

  test("q35 inter-arrival buckets match a driver-side recompute") {
    val evIds = graft.core.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), expr("unix_micros(ts)"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val gaps = evIds.groupBy(_._2).toSeq.flatMap { case (tpe, es) =>
      es.sortBy(e => (e._3, e._1)).sliding(2).collect {
        case Array(a, b) => (tpe, b._3 - a._3)
      }
    }
    def bucket(gap: Long): Long =
      if (gap == 0) 0 else java.lang.Long.toBinaryString(gap).length.toLong
    val expected = gaps.groupBy(g => (g._1, bucket(g._2)))
    val rows = SparkEntry.queries("q35_inter_arrival")(spark, sf).collect()
    assert(rows.length === expected.size)
    rows.foreach { r =>
      val k = (r.getAs[String]("event_type"), r.getAs[Long]("bucket"))
      val gs = expected(k).map(_._2)
      assert(r.getAs[Long]("n_gaps") === gs.length.toLong)
      assert(r.getAs[Long]("min_gap_us") === gs.min)
      assert(r.getAs[Long]("max_gap_us") === gs.max)
    }
  }

  test("dd16 source-overlap matrix matches a driver-side recompute") {
    val sources = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val bySource = docs.map { case (id, text, _) => (sources(id), toks(text)) }
      .filter(_._2.length >= 13)
      .groupBy(_._1)
      .map { case (src, ds) =>
        src -> ds.flatMap(d => d._2.sliding(13).map(_.mkString(" "))).toSet
      }
    val expected = (for {
      (sa, ga) <- bySource; (sb, gb) <- bySource if sa < sb
      shared = ga.intersect(gb).size if shared > 0
    } yield (sa, sb) -> (shared.toLong,
      math.floor(shared.toDouble / math.min(ga.size, gb.size) * 10000) / 10000)).toMap
    val rows = SparkEntry.queries("dd16_source_overlap")(spark, sf).collect()
    assert(rows.length === expected.size)
    rows.foreach { r =>
      val (shared, frac) = expected((r.getAs[String]("source_a"), r.getAs[String]("source_b")))
      assert(r.getAs[Long]("n_shared") === shared)
      assert(r.getAs[Double]("overlap_frac") === frac)
    }
  }

  test("mm06 shard census conserves items and bytes and spreads the load") {
    val rows = SparkEntry.queries("mm06_payload_shards")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("shard")).forall(s => s >= 0 && s < 16))
    assert(rows.map(_.getAs[Long]("n_items")).sum === docs.length.toLong)
    val expectedBytes = docs.map(_._2.getBytes("UTF-8").length.toLong).sum
    assert(rows.map(_.getAs[Long]("total_bytes")).sum === expectedBytes)
    // content-hash sharding: no shard should hold more than 4x its
    // fair share even at this tiny SF
    val maxItems = rows.map(_.getAs[Long]("n_items")).max
    assert(maxItems <= math.max(8L, 4L * docs.length / 16))
  }
}
