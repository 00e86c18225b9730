package graft

import graft.operators.Multimodal
import graft.sources.PngCodec
import org.apache.spark.sql.functions._

class Round9Spec extends SparkSpec {

  test("mm21 payloads are real PNG containers and the sniffer classifies them") {
    val base = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).limit(25)
    val media = Multimodal.pngMedia(base).collect()
    assert(media.nonEmpty)
    media.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("payload")
      assert(bytes.take(8).toSeq === PngCodec.Magic.toSeq)
      assert(Multimodal.sniff(bytes) === "png")
    }
    // container sizes VARY (compression is content-dependent) — a
    // fixed-size "container" would mean the bytes are a disguised
    // raw raster
    val sizes = media.map(_.getAs[Array[Byte]]("payload").length).toSet
    assert(sizes.size > 1, s"suspiciously uniform container sizes: $sizes")
  }

  test("mm21 decode census equals the byte-free closed form per doc") {
    val base = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).limit(50)
    val feats = Multimodal.pngFeatures(Multimodal.pngMedia(base)).collect()
    assert(feats.length === 50) // no decode losses on well-formed payloads
    feats.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val w = (4 + id % 5).toInt
      val h = (3 + id % 4).toInt
      val px = Array.tabulate(w * h)(k => ((id * 31 + k * 17) % 256).toInt)
      assert(r.getAs[Long]("w") === w.toLong)
      assert(r.getAs[Long]("h") === h.toLong)
      assert(r.getAs[Long]("n_px") === (w * h).toLong)
      assert(r.getAs[Long]("sum_px") === px.map(_.toLong).sum)
      assert(r.getAs[Long]("min_px") === px.min.toLong)
      assert(r.getAs[Long]("max_px") === px.max.toLong)
      assert(r.getAs[Long]("png_bytes") > 8L)
    }
  }

  test("mm21 corrupt payloads yield no feature row, never an exception") {
    import spark.implicits._
    val good = PngCodec.encode(4, 3, Array.tabulate(12)(_.toByte))
    val frame = Seq(
      (1L, good),
      (2L, good.take(15)), // truncated mid-IHDR
      (3L, "not a png at all".getBytes),
      (4L, null.asInstanceOf[Array[Byte]])
    ).toDF("doc_id", "payload")
    val out = Multimodal.pngFeatures(frame).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L))
  }

  test("mm22 resize: strided raster survives the re-encode round trip exactly") {
    import spark.implicits._
    // 5x4 raster with distinct values: output must be exactly the
    // even-(x,y) samples, re-read through a second PNG container
    val w = 5; val h = 4
    val px = Array.tabulate(w * h)(k => (k * 7 % 256).toByte)
    val frame = Seq((1L, PngCodec.encode(w, h, px))).toDF("doc_id", "payload")
    val r = Multimodal.pngResizeFeatures(frame).collect()
    assert(r.length === 1)
    val expect = for (y <- 0 until 2; x <- 0 until 3) yield px(2 * y * w + 2 * x) & 0xff
    assert(r.head.getAs[Long]("w_out") === 3L)
    assert(r.head.getAs[Long]("h_out") === 2L)
    assert(r.head.getAs[Long]("sum_px_out") === expect.map(_.toLong).sum)
    assert(r.head.getAs[Long]("min_px_out") === expect.min.toLong)
    assert(r.head.getAs[Long]("max_px_out") === expect.max.toLong)
    assert(r.head.getAs[Long]("png_bytes_out") > 8L)
  }

  test("mm22 1x1 images are resize-idempotent; corrupt payloads drop") {
    import spark.implicits._
    val one = PngCodec.encode(1, 1, Array(42.toByte))
    val frame = Seq(
      (1L, one),
      (2L, "junk".getBytes)
    ).toDF("doc_id", "payload")
    val r = Multimodal.pngResizeFeatures(frame).collect()
    assert(r.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L))
    assert(r.head.getAs[Long]("w_out") === 1L)
    assert(r.head.getAs[Long]("sum_px_out") === 42L)
  }

  test("mm21 query matches the mm15 census values (same raster, compressed path)") {
    // PNG is lossless and the raster closed form is shared, so the
    // two containers must produce IDENTICAL census rows — any
    // divergence is a codec bug on one side
    val png = SparkEntry.queries("mm21_png_decode")(spark, sf).collect()
    val pgm = SparkEntry.queries("mm15_pgm_decode")(spark, sf).collect()
    assert(png.nonEmpty)
    assert(png.map(_.toSeq).toSeq === pgm.map(_.toSeq).toSeq)
  }
}
