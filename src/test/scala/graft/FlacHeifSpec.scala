package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** FLAC native metadata blocks and HEIF/AVIF ispe dimensions vs real
  * reference fixtures; mirrors ogg/FlacParserTest.java (pictures become
  * embedded children in file order, title = description string,
  * type name recorded) and the image-module HEIF fixtures.
  */
class FlacHeifSpec extends AnyFunSuite {

  private val avDocs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-audiovideo-module/src/test/resources/test-documents")
  private val imgDocs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-image-module/src/test/resources/test-documents")
  private val intDocs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-integration-tests/" +
    "src/test/resources/test-documents")

  private def extract(dir: Path, name: String): graft.core.ExtractedDoc =
    RefFixture.extract(dir, name)

  private def one(d: graft.core.ExtractedDoc, key: String): String =
    d.meta.getOrElse(key, Nil).headOption.getOrElse("")

  test("FLAC cover art: one PICTURE -> one embedded PNG child " +
    "(FlacParserTest.testCoverArt)") {
    val d = extract(avDocs, "testFLAC_coverArt.flac")
    assert(d.mime == "audio/x-flac", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(one(d, "flac:picture1:title") == "Test Cover")
    assert(one(d, "flac:picture1:type") == "Cover (front)")
    // child recursed through the media path: a media span exists and the
    // child's PNG dimensions were parsed
    assert(d.spans.exists(_.kind == Span.KindMedia), d.spans.map(_.kind))
    // the PNG payload recursed through the media path and its IHDR parsed
    assert(d.meta.keys.exists(k => k.startsWith("media:") && k.endsWith(":width")),
      d.meta.keys.take(20))
    assert(one(d, "xmpDM:artist") == "Test Artist")
    assert(one(d, "xmpDM:audioSampleRate") == "44100")
  }

  test("FLAC two covers in file order (FlacParserTest.testMultipleCovers)") {
    val d = extract(avDocs, "testFLAC_twoCovers.flac")
    assert(one(d, "flac:picture1:title") == "Front Cover")
    assert(one(d, "flac:picture1:type") == "Cover (front)")
    assert(one(d, "flac:picture2:title") == "Back Cover")
    assert(one(d, "flac:picture2:type") == "Cover (back)")
  }

  test("FLAC STREAMINFO + VorbisComment tags") {
    val d = extract(intDocs, "testFLAC.flac")
    assert(one(d, "xmpDM:audioSampleRate").nonEmpty, d.meta.keys.take(20))
    // the integration fixture carries standard test tags
    val tags = d.meta.filter(_._1.startsWith("vorbis:"))
    assert(tags.nonEmpty || one(d, "dc:title").nonEmpty, d.meta.keys.take(20))
  }

  test("HEIC: ispe dimensions surface as media metadata") {
    val d = extract(imgDocs, "testHEIF.heic")
    assert(d.status == Status.ParseSuccess, d.status)
    val wKey = d.meta.keys.find(k => k.startsWith("media:") && k.endsWith(":width"))
    assert(wKey.nonEmpty, d.meta.keys.take(20))
    val w = one(d, wKey.get).toInt
    assert(w > 0, w)
  }

  test("HEIC: iPhone photo has plausible full-resolution extents") {
    val d = extract(imgDocs, "IMG_1034.heic")
    val wKey = d.meta.keys.find(k => k.startsWith("media:") && k.endsWith(":width"))
    val hKey = d.meta.keys.find(k => k.startsWith("media:") && k.endsWith(":height"))
    assume(wKey.nonEmpty && hKey.nonEmpty)
    val (w, h) = (one(d, wKey.get).toInt, one(d, hKey.get).toInt)
    assert(w >= 100 && h >= 100, (w, h))
  }
}
