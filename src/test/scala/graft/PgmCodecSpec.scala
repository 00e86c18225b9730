package graft

import graft.operators.Multimodal
import graft.sources.PgmCodec
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

class PgmCodecSpec extends AnyFunSuite {

  private def ascii(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  test("encode/decode round-trips random rasters exactly") {
    for (seed <- Seq(2, 9, 31)) {
      val rnd = new Random(seed)
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(30)
      val px = Array.fill(w * h)(rnd.nextInt(256).toByte)
      val img = PgmCodec.decode(PgmCodec.encode(w, h, 255, px))
        .getOrElse(fail(s"seed=$seed: round-trip failed"))
      assert(img.width === w)
      assert(img.height === h)
      assert(img.maxVal === 255)
      assert(img.pixels.toSeq === px.toSeq)
    }
  }

  test("parser handles the full header grammar: comments, odd whitespace") {
    val px = Array.tabulate(6)(_.toByte)
    val bytes = ascii("P5 # a comment right after magic\n" +
      "# another full-line comment\n  3\t# width done\n 2 \r\n255\n") ++ px
    val img = PgmCodec.decode(bytes).getOrElse(fail("grammar parse failed"))
    assert((img.width, img.height, img.maxVal) === ((3, 2, 255)))
    assert(img.pixels.toSeq === px.toSeq)
  }

  test("raster bytes that look like whitespace are NOT skipped") {
    // pixel values 0x0A ('\n') and 0x20 (' ') must survive: exactly
    // one separator byte follows maxval, then raw raster
    val px = Array[Byte](0x0a, 0x20, 0x0a, 0x20)
    val img = PgmCodec.decode(PgmCodec.encode(2, 2, 255, px))
      .getOrElse(fail("whitespace-valued raster failed"))
    assert(img.pixels.toSeq === px.toSeq)
    assert(img.pixel(0) === 0x0a)
  }

  test("corrupt inputs return None, never throw") {
    val good = PgmCodec.encode(3, 2, 255, Array.tabulate(6)(_.toByte))
    assert(PgmCodec.decode(null).isEmpty)
    assert(PgmCodec.decode(Array.emptyByteArray).isEmpty)
    assert(PgmCodec.decode(ascii("P6\n1 1\n255\nX")).isEmpty) // PPM magic
    assert(PgmCodec.decode(good.dropRight(1)).isEmpty) // truncated raster
    assert(PgmCodec.decode(ascii("P5\n0 2\n255\n")).isEmpty) // zero width
    assert(PgmCodec.decode(ascii("P5\n2 2\n65535\n1234")).isEmpty) // 2-byte samples
    assert(PgmCodec.decode(ascii("P5\n2 x\n255\n1234")).isEmpty) // non-numeric
  }

  test("mm15's closed-form raster is what the codec actually decodes") {
    // one image, by hand: doc_id = 7 → w = 4 + 7%5 = 6, h = 3 + 7%4 = 6
    val id = 7L
    val w = (4 + id % 5).toInt; val h = (3 + id % 4).toInt
    val px = Array.tabulate(w * h)(k => ((id * 31 + k * 17) % 256).toByte)
    val img = PgmCodec.decode(PgmCodec.encode(w, h, 255, px)).get
    assert(img.pixel(0) === ((7 * 31) % 256))
    assert(img.pixel(w * h - 1) === ((7 * 31 + (w * h - 1) * 17) % 256))
    assert(Multimodal.queries.contains("mm15_pgm_decode"))
  }
}
