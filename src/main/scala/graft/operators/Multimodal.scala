package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables

/** Multimodal-column plumbing: opaque `binary` payloads + typed
  * metadata, processed in partition-sized batches.
  *
  * Real in-JVM codecs cover PGM (mm15), PCM/WAV (mm17/mm19),
  * TAR/WARC (mm18/mm16) and — since round 9 — a genuinely COMPRESSED
  * image format, grayscale PNG via the JDK's ImageIO
  * ([[pngMedia]]/[[pngFeatures]], mm21), so the codec swap-in is
  * executed, not promised. [[fakeDecode]] remains only as the
  * documented test double for formats whose codecs the sandbox
  * lacks (JPEG & co.); everything around any decode — the binary
  * schema, the batched `mapPartitions` transform, partitioning — is
  * the same real plumbing, with codec init amortized per partition
  * and payloads never passing through the driver.
  */
object Multimodal extends Operators {

  /** Canonical multimodal record schema: opaque payload + metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false),
    StructField("payload", BinaryType, nullable = true),
    StructField("byte_len", LongType, nullable = false),
    StructField("source", StringType, nullable = true)))

  /** documents.text → opaque binary payload rows (the test-table stand-
    * in for real image/audio bytes).
    */
  def asMedia(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      lit("text/plain").as("media_type"),
      col("text").cast("binary").as("payload"),
      length(col("text").cast("binary")).cast("long").as("byte_len"),
      col("source"))

  /** STUB decode: a real implementation would decode image/audio bytes
    * here (partition-batched, codec initialized once per partition).
    * The deterministic fake extracts (n_bytes, first_byte, last_byte)
    * "features" so the plumbing is testable end-to-end.
    */
  def fakeDecode(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(media.schema.fields ++ Seq(
      StructField("feat_n_bytes", LongType),
      StructField("feat_first", IntegerType),
      StructField("feat_last", IntegerType)))
    val payloadIdx = media.schema.fieldIndex("payload")
    val rdd = media.rdd.mapPartitions { it =>
      // codec init would happen here, once per partition
      it.map { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        val (n, f, l) =
          if (bytes == null || bytes.isEmpty) (0L, -1, -1)
          else (bytes.length.toLong, bytes.head & 0xff, bytes.last & 0xff)
        Row.fromSeq(r.toSeq ++ Seq[Any](n, f, l))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // binary payload + metadata stats; digest via md5 over raw bytes —
    // oracle-checkable because the fake payload is utf-8 text
    "mm01_binary_meta" -> { (s, d) =>
      asMedia(Tables.documents(s, d))
        .withColumn("digest", md5(col("payload")))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(col("byte_len")).as("total_bytes"),
          min(col("digest")).as("min_digest"))
        .orderBy(col("source"))
    },

    "mm02_decode_features" -> (mm02 _)
  )

  /** The mapPartitions decode path as a gated query: per-item features
    * from the batched binary transform. The fake features are
    * deterministic functions of the payload bytes, so even the
    * RDD-boundary plumbing is oracle-checked.
    */
  private def mm02(s: SparkSession, d: String): DataFrame = {
    // byte features only align with the oracle's char functions on
    // non-empty ASCII text — restrict BOTH sides identically so the
    // comparison stays meaningful for any future data
    val ascii = Tables.documents(s, d)
      .filter(length(col("text")) > 0 && col("text").rlike("^[\\x00-\\x7F]*$"))
    fakeDecode(asMedia(ascii))
      .select(col("media_id"), col("feat_n_bytes"), col("feat_first"), col("feat_last"))
      .orderBy(col("media_id"))
  }

  /** Deterministic PGM payload per doc (the media-build direction):
    * w = 4 + id%5, h = 3 + id%4, pixel k = (id·31 + k·17) mod 256 —
    * a closed form the DuckDB oracle reproduces WITHOUT touching
    * bytes, so the decode gate checks the codec, not a shared parser.
    */
  def pgmMedia(base: DataFrame): DataFrame = {
    val spark = base.sparkSession
    val outSchema = StructType(base.schema.fields ++ Seq(
      StructField("payload", BinaryType)))
    val idIdx = base.schema.fieldIndex("doc_id")
    val rdd = base.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(idIdx)
        val w = (4 + id % 5).toInt
        val h = (3 + id % 4).toInt
        val px = Array.tabulate(w * h)(k => ((id * 31 + k * 17) % 256).toByte)
        Row.fromSeq(r.toSeq :+ graft.sources.PgmCodec.encode(w, h, 255, px))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** REAL decode via [[graft.sources.PgmCodec]] — partition-batched
    * like [[fakeDecode]] (codec "init" is the object load, amortized
    * per partition by construction). Undecodable payloads yield no
    * feature row (the 100 TB media-scan posture: corrupt bytes are
    * data, not exceptions).
    */
  def pgmFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val keep = media.schema.fields.filterNot(_.name == "payload")
    val outSchema = StructType(keep ++ Seq(
      StructField("w", LongType), StructField("h", LongType),
      StructField("n_px", LongType), StructField("sum_px", LongType),
      StructField("min_px", LongType), StructField("max_px", LongType)))
    val payloadIdx = media.schema.fieldIndex("payload")
    val keepIdx = keep.map(f => media.schema.fieldIndex(f.name))
    val rdd = media.rdd.mapPartitions { it =>
      it.flatMap { r =>
        graft.sources.PgmCodec.decode(r.getAs[Array[Byte]](payloadIdx)).map { img =>
          var s = 0L; var mn = 255L; var mx = 0L
          var k = 0
          while (k < img.pixels.length) {
            val v = img.pixel(k).toLong
            s += v; if (v < mn) mn = v; if (v > mx) mx = v
            k += 1
          }
          Row.fromSeq(keepIdx.map(r.get).toSeq ++ Seq[Any](
            img.width.toLong, img.height.toLong, img.pixels.length.toLong,
            s, mn, mx))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** mm15's closed-form raster, through a real COMPRESSED container:
    * each doc becomes an 8-bit grayscale PNG (zlib/DEFLATE via the
    * JDK's ImageIO — [[graft.sources.PngCodec]]). Same raster closed
    * form as [[pgmMedia]] so the decode census shares mm15's
    * byte-free oracle; the difference is that these payloads really
    * are compressed, variable-length container bytes — the codec
    * swap-in the object scaladoc promises, executed in-sandbox.
    */
  def pngMedia(base: DataFrame): DataFrame = {
    val spark = base.sparkSession
    val outSchema = StructType(base.schema.fields ++ Seq(
      StructField("payload", BinaryType)))
    val idIdx = base.schema.fieldIndex("doc_id")
    val rdd = base.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(idIdx)
        val w = (4 + id % 5).toInt
        val h = (3 + id % 4).toInt
        val px = Array.tabulate(w * h)(k => ((id * 31 + k * 17) % 256).toByte)
        Row.fromSeq(r.toSeq :+ graft.sources.PngCodec.encode(w, h, px))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** REAL compressed decode via [[graft.sources.PngCodec]] —
    * partition-batched like [[pgmFeatures]]; undecodable payloads
    * yield no feature row. `png_bytes` carries the container size
    * (compression-dependent, so it feeds specs, not the oracle);
    * `bands` is the source layout (1 = gray, 3 = RGB→BT.601 luma).
    */
  def pngFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val keep = media.schema.fields.filterNot(_.name == "payload")
    val outSchema = StructType(keep ++ Seq(
      StructField("w", LongType), StructField("h", LongType),
      StructField("n_px", LongType), StructField("sum_px", LongType),
      StructField("min_px", LongType), StructField("max_px", LongType),
      StructField("png_bytes", LongType), StructField("bands", LongType)))
    val payloadIdx = media.schema.fieldIndex("payload")
    val keepIdx = keep.map(f => media.schema.fieldIndex(f.name))
    val rdd = media.rdd.mapPartitions { it =>
      it.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        graft.sources.PngCodec.decode(bytes).map { img =>
          var s = 0L; var mn = 255L; var mx = 0L
          var k = 0
          while (k < img.pixels.length) {
            val v = img.pixel(k).toLong
            s += v; if (v < mn) mn = v; if (v > mx) mx = v
            k += 1
          }
          Row.fromSeq(keepIdx.map(r.get).toSeq ++ Seq[Any](
            img.width.toLong, img.height.toLong, img.pixels.length.toLong,
            s, mn, mx, bytes.length.toLong, img.bands.toLong))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Mixed gray/color PNG corpus (mm23's build direction): even
    * doc_ids keep [[pngMedia]]'s grayscale closed form; odd doc_ids
    * become TRUECOLOR PNGs with per-channel closed forms
    * r = (id·31 + k·17) % 256, g = (id·59 + k·23) % 256,
    * b = (id·13 + k·29) % 256 — so the decoded BT.601 luminance is a
    * byte-free integer form the DuckDB oracle replays exactly.
    */
  def pngColorMedia(base: DataFrame): DataFrame = {
    val spark = base.sparkSession
    val outSchema = StructType(base.schema.fields ++ Seq(
      StructField("payload", BinaryType)))
    val idIdx = base.schema.fieldIndex("doc_id")
    val rdd = base.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(idIdx)
        val w = (4 + id % 5).toInt
        val h = (3 + id % 4).toInt
        val bytes =
          if (id % 2 == 0) {
            val px = Array.tabulate(w * h)(k => ((id * 31 + k * 17) % 256).toByte)
            graft.sources.PngCodec.encode(w, h, px)
          } else {
            val rr = Array.tabulate(w * h)(k => ((id * 31 + k * 17) % 256).toByte)
            val gg = Array.tabulate(w * h)(k => ((id * 59 + k * 23) % 256).toByte)
            val bb = Array.tabulate(w * h)(k => ((id * 13 + k * 29) % 256).toByte)
            graft.sources.PngCodec.encodeRgb(w, h, rr, gg, bb)
          }
        Row.fromSeq(r.toSeq :+ bytes)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** REAL image resize through the compressed container (mm22):
    * decode PNG → stride-2 downsample (keep pixels at even (x, y);
    * out dims = ceil(in/2)) → RE-ENCODE as PNG → decode again and
    * report output stats plus the re-encoded container size. The
    * whole decode→transform→encode→decode chain runs inside one
    * mapPartitions pass — the shape a thumbnailing / training-resize
    * stage has at 100 TB (payloads never shuffle; only slim stats
    * leave the partition). mm04's byte-stride stub is superseded for
    * PNG by this real-codec path.
    */
  def pngResizeFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val keep = media.schema.fields.filterNot(_.name == "payload")
    val outSchema = StructType(keep ++ Seq(
      StructField("w_out", LongType), StructField("h_out", LongType),
      StructField("n_px_out", LongType), StructField("sum_px_out", LongType),
      StructField("min_px_out", LongType), StructField("max_px_out", LongType),
      StructField("png_bytes_out", LongType)))
    val payloadIdx = media.schema.fieldIndex("payload")
    val keepIdx = keep.map(f => media.schema.fieldIndex(f.name))
    val rdd = media.rdd.mapPartitions { it =>
      it.flatMap { r =>
        graft.sources.PngCodec.decode(r.getAs[Array[Byte]](payloadIdx)).flatMap { img =>
          val w2 = (img.width + 1) / 2
          val h2 = (img.height + 1) / 2
          val out = new Array[Byte](w2 * h2)
          var y = 0
          while (y < h2) {
            var x = 0
            while (x < w2) {
              out(y * w2 + x) = img.pixels((2 * y) * img.width + 2 * x)
              x += 1
            }
            y += 1
          }
          val reenc = graft.sources.PngCodec.encode(w2, h2, out)
          graft.sources.PngCodec.decode(reenc).map { back =>
            var s = 0L; var mn = 255L; var mx = 0L
            var k = 0
            while (k < back.pixels.length) {
              val v = back.pixel(k).toLong
              s += v; if (v < mn) mn = v; if (v > mx) mx = v
              k += 1
            }
            Row.fromSeq(keepIdx.map(r.get).toSeq ++ Seq[Any](
              back.width.toLong, back.height.toLong,
              back.pixels.length.toLong, s, mn, mx, reenc.length.toLong))
          }
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Docs → WARC archive members (the build direction for mm16): one
    * archive per (source, doc_id div 16) group — ≤16 records, ordered
    * by doc_id — each record carrying the id/date headers and the
    * UTF-8 text as its Content-Length-framed body. Bodies shuffle
    * ONCE (the archive groupBy); assembly is partition-batched and
    * nothing passes through the driver.
    */
  def warcMedia(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val grouped = docs
      .select(col("source"), expr("doc_id div 16").as("bucket"),
        struct(col("doc_id"), col("text")).as("rec"))
      .groupBy(col("source"), col("bucket"))
      .agg(sort_array(collect_list(col("rec"))).as("recs"))
    val outSchema = StructType(Seq(
      StructField("source", StringType), StructField("bucket", LongType),
      StructField("payload", BinaryType)))
    val rdd = grouped.rdd.mapPartitions { it =>
      it.map { r =>
        val recs = r.getAs[scala.collection.Seq[Row]]("recs").map { rec =>
          val id = rec.getLong(0)
          val headers = Seq(
            "WARC-Type" -> "response",
            "WARC-Record-ID" -> s"urn:graft:$id",
            "WARC-Date" -> "2026-01-01T00:00:00Z")
          (headers, rec.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        Row(r.getAs[String]("source"), r.getAs[Long]("bucket"),
          graft.sources.WarcCodec.encodeArchive(recs.toSeq))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Archive members → one row per parsed WARC record (the read
    * direction): record id, declared Content-Length, and the ACTUAL
    * body byte count — any framing drift shows up as a mismatch the
    * census hashes. Unparseable archives yield no rows (corrupt
    * bytes are data, not exceptions — PgmCodec's posture).
    */
  def warcRecords(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("source", StringType),
      StructField("record_id", StringType),
      StructField("declared_len", LongType),
      StructField("body_len", LongType)))
    val srcIdx = media.schema.fieldIndex("source")
    val payloadIdx = media.schema.fieldIndex("payload")
    val rdd = media.rdd.mapPartitions { it =>
      it.flatMap { r =>
        val src = r.getString(srcIdx)
        graft.sources.WarcCodec.decode(r.getAs[Array[Byte]](payloadIdx))
          .toSeq.flatten.map { rec =>
            Row(src,
              rec.header("WARC-Record-ID").getOrElse(""),
              rec.header("Content-Length").flatMap(_.toLongOption).getOrElse(-1L),
              rec.body.length.toLong)
          }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Docs → TAR (ustar) shard members, WebDataset-style: 16 docs per
    * shard keyed (source, doc_id div 16), entry names
    * `docs/<doc_id>.txt`. Same shape as [[warcMedia]]; bytes built by
    * the REAL [[graft.sources.TarCodec]].
    */
  def tarMedia(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val grouped = docs
      .select(col("source"), expr("doc_id div 16").as("bucket"),
        struct(col("doc_id"), col("text")).as("rec"))
      .groupBy(col("source"), col("bucket"))
      .agg(sort_array(collect_list(col("rec"))).as("recs"))
    val outSchema = StructType(Seq(
      StructField("source", StringType), StructField("bucket", LongType),
      StructField("payload", BinaryType)))
    val rdd = grouped.rdd.mapPartitions { it =>
      it.map { r =>
        val entries = r.getAs[scala.collection.Seq[Row]]("recs").map { rec =>
          val id = rec.getLong(0)
          (s"docs/$id.txt",
            rec.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        Row(r.getAs[String]("source"), r.getAs[Long]("bucket"),
          graft.sources.TarCodec.encodeArchive(entries.toSeq))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Shard members → one row per parsed TAR entry (the read
    * direction): entry name, body byte count, and the shard's total
    * on-disk bytes (header + padding overhead included, counted once
    * per entry row via shard_bytes/entry accounting columns).
    * Unparseable shards yield no rows (corrupt posture).
    */
  def tarEntries(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("source", StringType),
      StructField("bucket", LongType),
      StructField("entry_name", StringType),
      StructField("body_len", LongType),
      StructField("shard_bytes", LongType),
      StructField("n_shard_entries", LongType)))
    val srcIdx = media.schema.fieldIndex("source")
    val bucketIdx = media.schema.fieldIndex("bucket")
    val payloadIdx = media.schema.fieldIndex("payload")
    val rdd = media.rdd.mapPartitions { it =>
      it.flatMap { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        graft.sources.TarCodec.decode(payload).toSeq.flatMap { entries =>
          entries.map { e =>
            Row(r.getString(srcIdx), r.getLong(bucketIdx), e.name,
              e.body.length.toLong, payload.length.toLong,
              entries.length.toLong)
          }
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Docs → raw-PCM clips (mm17's build direction): deterministic
    * 16-bit samples synthesized from doc_id (the closed form the
    * oracle recomputes without bytes), packed through the REAL
    * [[graft.sources.PcmCodec]] byte layout.
    */
  def pcmMedia(base: DataFrame): DataFrame = {
    val spark = base.sparkSession
    val outSchema = StructType(base.schema.fields :+
      StructField("payload", BinaryType))
    val idIdx = base.schema.fieldIndex("doc_id")
    val rdd = base.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(idIdx)
        val n = (400 + (id % 7) * 64).toInt
        val samples = Array.tabulate(n)(k =>
          (((id * 7 + k.toLong * 13) % 4096) - 2048).toShort)
        Row.fromSeq(r.toSeq :+ graft.sources.PcmCodec.encode(samples))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Docs → WAV clips: mm17's deterministic synthesized samples, but
    * through the REAL RIFF/WAVE container ([[graft.sources.WavCodec]],
    * canonical 44-byte PCM16 mono header) instead of raw PCM bytes.
    */
  def wavMedia(base: DataFrame, sampleRate: Int): DataFrame = {
    val spark = base.sparkSession
    val outSchema = StructType(base.schema.fields :+
      StructField("payload", BinaryType))
    val idIdx = base.schema.fieldIndex("doc_id")
    val rdd = base.rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(idIdx)
        val n = (400 + (id % 7) * 64).toInt
        val samples = Array.tabulate(n)(k =>
          (((id * 7 + k.toLong * 13) % 4096) - 2048).toShort)
        Row.fromSeq(r.toSeq :+ graft.sources.WavCodec.encode(sampleRate, samples))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** WAV payloads → one row per parsed clip: declared sample rate,
    * sample count, container byte size. Undecodable payloads yield no
    * row (corrupt posture).
    */
  def wavClips(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val keep = media.schema.fields.filterNot(_.name == "payload")
    val outSchema = StructType(keep ++ Seq(
      StructField("sample_rate", LongType),
      StructField("n_samples", LongType),
      StructField("container_bytes", LongType)))
    val payloadIdx = media.schema.fieldIndex("payload")
    val keepIdx = keep.map(f => media.schema.fieldIndex(f.name))
    val rdd = media.rdd.mapPartitions { it =>
      it.flatMap { r =>
        val payload = r.getAs[Array[Byte]](payloadIdx)
        graft.sources.WavCodec.decode(payload).map { case (rate, samples) =>
          Row.fromSeq(keepIdx.map(r.get).toSeq ++ Seq(
            rate.toLong, samples.length.toLong, payload.length.toLong))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** REAL PCM decode + frame segmentation (win samples per frame, hop
    * stride): per clip, frame count, frames whose mean |amplitude|
    * clears `gate`, and the loudest frame's mean. Partition-batched
    * like [[pgmFeatures]]; undecodable payloads yield no row.
    */
  def pcmFrames(media: DataFrame, win: Int, hop: Int, gate: Long): DataFrame = {
    val spark = media.sparkSession
    val keep = media.schema.fields.filterNot(_.name == "payload")
    val outSchema = StructType(keep ++ Seq(
      StructField("n_samples", LongType), StructField("n_frames", LongType),
      StructField("active_frames", LongType),
      StructField("max_frame_mean", LongType)))
    val payloadIdx = media.schema.fieldIndex("payload")
    val keepIdx = keep.map(f => media.schema.fieldIndex(f.name))
    val rdd = media.rdd.mapPartitions { it =>
      it.flatMap { r =>
        graft.sources.PcmCodec.decode(r.getAs[Array[Byte]](payloadIdx)).flatMap { s =>
          if (s.length < win) None
          else {
            val nf = (s.length - win) / hop + 1
            var active = 0L; var maxMean = 0L
            var f = 0
            while (f < nf) {
              var sum = 0L; var j = 0
              while (j < win) { sum += math.abs(s(f * hop + j).toLong); j += 1 }
              val mean = sum / win
              if (mean >= gate) active += 1
              if (mean > maxMean) maxMean = mean
              f += 1
            }
            Some(Row.fromSeq(keepIdx.map(r.get).toSeq ++ Seq[Any](
              s.length.toLong, nf.toLong, active, maxMean)))
          }
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  def oracles: Map[String, String] = Map(
    "mm02_decode_features" ->
      """SELECT doc_id AS media_id, strlen(text) AS feat_n_bytes,
        | ord(substr(text, 1, 1)) AS feat_first,
        | ord(substr(text, length(text), 1)) AS feat_last
        |FROM documents
        |WHERE length(text) > 0 AND regexp_matches(text, '^[\x00-\x7F]*$')
        |ORDER BY media_id""".stripMargin,
    "mm01_binary_meta" ->
      """SELECT source, COUNT(*) AS n_items,
        | CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
        | MIN(md5(text)) AS min_digest
        |FROM documents GROUP BY source ORDER BY source""".stripMargin
  )
}
