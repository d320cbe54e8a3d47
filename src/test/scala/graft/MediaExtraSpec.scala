package graft

import java.nio.file.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.media.MediaParser

/** PSD / WebP / ICO / AIFF / AU container metadata vs the reference's
  * real fixtures (PSDParserTest, WebPParserTest, AudioParserTest).
  */
class MediaExtraSpec extends AnyFunSuite {

  private val img = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-image-module/src/test/resources/test-documents")
  private val av = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-audiovideo-module/src/test/resources/test-documents")

  private def parse(dir: Path, name: String): MediaParser.Meta = {
    MediaParser.parse(RefFixture.bytes(name, dir)).get
  }

  test("testPSD.psd: 537x51, 8 bits per sample") {
    val m = parse(img, "testPSD.psd")
    assert(m.mime == "image/vnd.adobe.photoshop")
    assert(m.width == 537 && m.height == 51, (m.width, m.height))
    assert(m.tags.get("tiff:BitsPerSample").contains("8"))
  }

  test("testICNS.icns: icon + mask inventories (ICNSParserTest)") {
    val m = parse(img, "testICNS.icns")
    assert(m.mime == "image/icns")
    assert(m.tags.get("Icon count").contains("2"))
    assert(m.tags.get("Icon details").contains("16x16 (24 bpp), 32x32 (24 bpp)"))
    assert(m.tags.get("Masked icon count").contains("2"))
    assert(m.tags.get("Masked icon details").contains("16x16 (8 bpp), 32x32 (8 bpp)"))
  }

  test("testICNS_basic.icns: single 512x512 JPEG2000/PNG icon") {
    val m = parse(img, "testICNS_basic.icns")
    assert(m.tags.get("Icon count").contains("1"))
    assert(m.tags.get("Icon details").contains("512x512 (JPEG 2000 or PNG format)"))
    assert(m.width == 512 && m.height == 512)
  }

  test("webp variants: lossy, lossless, extended all carry dimensions") {
    for (n <- Seq("testWEBP.webp", "testWebp_Alpha_Lossless.webp",
        "testWebp_Alpha_Lossy.webp")) {
      val m = parse(img, n)
      assert(m.mime == "image/webp", n)
      assert(m.width > 0 && m.height > 0, s"$n: ${(m.width, m.height)}")
    }
  }

  test("testAIFF.aif: 44100 Hz stereo with duration") {
    val m = parse(av, "testAIFF.aif")
    assert(m.mime == "audio/x-aiff")
    assert(m.sampleRate == 44100, m.sampleRate)
    assert(m.channels == 2, m.channels)
  }

  test("testAU.au: 44100 Hz") {
    val m = parse(av, "testAU.au")
    assert(m.mime == "audio/basic")
    assert(m.sampleRate == 44100, m.sampleRate)
  }

  test("PNG tEXt chunks surface as png: tags") {
    // synthetic: IHDR + one tEXt chunk (CRCs unchecked by the parser)
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def chunk(tag: String, body: Array[Byte]): Unit = {
      val len = body.length
      out.write(Array((len >> 24).toByte, (len >> 16).toByte,
        (len >> 8).toByte, len.toByte))
      out.write(tag.getBytes("US-ASCII"))
      out.write(body)
      out.write(new Array[Byte](4)) // crc (unvalidated)
    }
    chunk("IHDR", Array[Byte](0, 0, 0, 10, 0, 0, 0, 5, 8, 2, 0, 0, 0))
    chunk("tEXt", ("Comment" + "\u0000" + "made by graft").getBytes("ISO-8859-1"))
    val m = MediaParser.parse(out.toByteArray).get
    assert(m.width == 10 && m.height == 5)
    assert(m.tags.get("png:Comment").contains("made by graft"), m.tags)
  }

  test("testMID.mid: track count, division type, text events") {
    val m = parse(av, "testMID.mid")
    assert(m.mime == "audio/midi")
    assert(m.tags.get("midi:tracks").contains("2"), m.tags)
    assert(m.tags.get("midi:divisionType").contains("PPQ"), m.tags)
  }

  test("testJXL.jxl: bare codestream SizeHeader dimensions") {
    val m = parse(img, "testJXL.jxl")
    assert(m.mime == "image/jxl")
    assert(m.width == 320 && m.height == 320, (m.width, m.height))
  }

  test("testJXL_ISOBMFF.jxl: container jxlc dims + XMP title (JXLTest)") {
    val m = parse(img, "testJXL_ISOBMFF.jxl")
    assert(m.mime == "image/jxl")
    // independent python SizeHeader decode: 2550x3300 (letter @ 300dpi)
    assert(m.width == 2550 && m.height == 3300, (m.width, m.height))
    // the reference's JXLTest pins dc:title from the xml box's XMP packet
    assert(m.tags.get("xmp:title").contains("Unknown Title"), m.tags)
  }

  test("testJXL_exif.jxl: Exif box orientation + camera tags") {
    val m = parse(img, "testJXL_exif.jxl")
    assert(m.mime == "image/jxl")
    assert(m.width == 4032 && m.height == 3024, (m.width, m.height))
    assert(m.orientation >= 1, m.orientation)
  }
}
