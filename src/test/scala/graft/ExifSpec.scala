package graft

import java.nio.file.Path
import org.scalatest.funsuite.AnyFunSuite

/** EXIF/TIFF tag extraction vs the reference's real image fixtures —
  * expectations mirror image-module JpegParserTest.testJPEG (equipment,
  * exposure, software, dates, resolution) and testJPEGGeo (decimal GPS
  * coordinates).
  */
class ExifSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-image-module/src/test/resources/test-documents")

  private def parse(name: String): graft.media.MediaParser.Meta = {
    graft.media.MediaParser.parse(RefFixture.bytes(name, docs)).get
  }

  test("testJPEG_EXIF.jpg: core EXIF/TIFF tags") {
    val m = parse("testJPEG_EXIF.jpg")
    assert(m.width == 3888 && m.height == 2592, (m.width, m.height))
    assert(m.tags.get("tiff:Make").contains("Canon"), m.tags.get("tiff:Make"))
    assert(m.tags.get("tiff:Model").contains("Canon EOS 40D"))
    assert(m.tags.get("tiff:Software")
      .contains("Adobe Photoshop CS3 Macintosh"))
    assert(m.tags.get("exif:FNumber").flatMap(_.toDoubleOption)
      .exists(v => math.abs(v - 5.6) < 1e-9), m.tags.get("exif:FNumber"))
    assert(m.tags.get("exif:ExposureTime").flatMap(_.toDoubleOption)
      .exists(v => math.abs(v - 6.25e-4) < 1e-12))
    assert(m.tags.get("exif:IsoSpeedRatings").contains("400"))
    assert(m.tags.get("exif:FocalLength").flatMap(_.toDoubleOption)
      .exists(v => math.abs(v - 194.0) < 1e-9))
    assert(m.tags.get("exif:Flash").contains("false"))
    assert(m.tags.get("tiff:ResolutionUnit").contains("Inch"))
    assert(m.tags.get("tiff:XResolution").flatMap(_.toDoubleOption)
      .exists(v => math.abs(v - 240.0) < 1e-9))
    assert(m.tags.get("dcterms:modified").contains("2009-10-02T23:02:49"))
    assert(m.tags.get("dcterms:created").contains("2009-08-11T09:09:45"))
    assert(m.orientation == 0) // not present in this file
  }

  test("testJPEG_GEO.jpg: GPS decimal coordinates") {
    val m = parse("testJPEG_GEO.jpg")
    assert(m.tags.get("geo:lat").flatMap(_.toDoubleOption)
      .exists(v => math.abs(v - 12.54321) < 1e-4), m.tags.get("geo:lat"))
    assert(m.tags.get("geo:long").flatMap(_.toDoubleOption)
      .exists(v => math.abs(v + 54.1234) < 1e-4), m.tags.get("geo:long"))
  }

  test("TIFF container: dimensions + tags through the same IFD walk") {
    val m = parse("testTIFF.tif")
    assert(m.mime == "image/tiff")
    assert(m.width > 0 && m.height > 0, (m.width, m.height))
  }
}
