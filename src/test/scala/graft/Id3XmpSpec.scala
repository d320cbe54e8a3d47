package graft

import java.nio.file.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{DocRow, ExtractedDoc, Span}
import graft.corpus.Corpus
import graft.engine.Extractor
import graft.media.MediaParser

/** ID3 tag + XMP packet metadata vs the reference's real fixtures
  * (mp3/Mp3ParserTest.java expectations: "Test Title"/"Test Artist").
  */
class Id3XmpSpec extends AnyFunSuite {

  private val avDirs = Seq(
    Path.of("/root/reference/tika-parsers/" +
      "tika-parsers-standard/tika-parsers-standard-modules/" +
      "tika-parser-audiovideo-module/src/test/resources/test-documents"),
    Path.of("/root/reference/tika-parsers/" +
      "tika-parsers-standard/tika-parsers-standard-integration-tests/" +
      "src/test/resources/test-documents"))

  private def tagsOf(name: String): Map[String, String] =
    MediaParser.parse(RefFixture.bytes(name, avDirs: _*)).map(_.tags).getOrElse(Map.empty)

  private def extract(name: String): ExtractedDoc = Extractor.extract(
    DocRow(name, Seq(Span("bytes", Corpus.b64(RefFixture.bytes(name, avDirs: _*)), null, 0))))

  test("ID3v1 trailer: title/artist (Mp3ParserTest.testMp3ParsingID3v1)") {
    val t = tagsOf("testMP3id3v1.mp3")
    assert(t.get("title").contains("Test Title"), t)
    assert(t.get("artist").contains("Test Artist"), t)
  }

  test("ID3v2.3 frames: title/artist/album") {
    val t = tagsOf("testMP3id3v2.mp3")
    assert(t.get("title").contains("Test Title"), t)
    assert(t.get("artist").contains("Test Artist"), t)
  }

  test("ID3v2.4 syncsafe frames") {
    val t = tagsOf("testMP3id3v24.mp3")
    assert(t.get("title").contains("Test Title"), t)
    assert(t.get("artist").contains("Test Artist"), t)
  }

  test("v1+v2 together: v2 wins, v1 fills gaps") {
    val t = tagsOf("testMP3id3v1_v2.mp3")
    assert(t.get("title").contains("Test Title"), t)
  }

  test("XMP packet scan lifts dc:title/dc:creator") {
    val xmp = ("""<x:xmpmeta xmlns:x="adobe:ns:meta/"><rdf:RDF>""" +
      """<rdf:Description><dc:title><rdf:Alt><rdf:li xml:lang="x-default">My Photo</rdf:li>""" +
      """</rdf:Alt></dc:title><dc:creator><rdf:Seq><rdf:li>Jane Doe</rdf:li></rdf:Seq>""" +
      """</dc:creator><xmp:CreatorTool>graft-test</xmp:CreatorTool>""" +
      """</rdf:Description></rdf:RDF></x:xmpmeta>""").getBytes("UTF-8")
    val tags = MediaParser.xmpTags(xmp)
    assert(tags.get("xmp:title").contains("My Photo"), tags)
    assert(tags.get("xmp:creator").contains("Jane Doe"), tags)
    assert(tags.get("xmp:creator-tool").contains("graft-test"), tags)
  }

  test("real PDF XMP packet surfaces xmp:* metadata") {
    val d = RefFixture.extract(Path.of("/root/reference/tika-parsers/" +
      "tika-parsers-standard/tika-parsers-standard-modules/" +
      "tika-parser-pdf-module/src/test/resources/test-documents"), "testPDF_Version.4.x.pdf")
    assert(d.meta.keys.exists(_.startsWith("xmp:")), d.meta.keys.toSeq.sorted.take(20))
  }

  test("APIC cover art recurses as named embedded children " +
      "(Mp3ParserTest.assertTwoCovers)") {
    for (name <- Seq("testMP3_twoCovers.mp3", "testMP3v23_twoCovers.mp3")) {
      val d = extract(name)
      val path = d.meta.getOrElse("embedded:path", Nil).mkString("|")
      assert(path.contains("Front Cover") && path.contains("Back Cover"), path)
      // 64x40 front, 30x30 back — the reference test's pixel dims
      val dims = d.meta.collect {
        case (k, v) if k.endsWith(":width") || k.endsWith(":height") =>
          v.mkString }
      assert(dims.toSet == Set("64", "40", "30"), d.meta)
    }
  }

  test("v2.2 PIC frames parse (no covers lost on old tags)") {
    // v2.2 fixture has no pictures; the walk must still terminate clean
    val t = tagsOf("testMP3id3v2.mp3")
    assert(t.nonEmpty)
  }

  test("vorbis comments: tags, bitrate bracket, cover art " +
      "(VorbisParserTest)") {
    val t = tagsOf("testVORBIS.ogg")
    assert(t.get("title").contains("Test Title"), t)
    assert(t.get("artist").contains("Test Artist"), t)
    // quality-mode encoding: nominal 80000, open bracket -> variable
    assert(t.get("bitrate").contains("80000"), t)
    assert(t.get("variable_bitrate").contains("true"), t)
    val d = extract("testVORBIS_twoCovers.ogg")
    val path = d.meta.getOrElse("embedded:path", Nil).mkString("|")
    assert(path.contains("Front Cover") && path.contains("Back Cover"), path)
  }

  test("opus tags (OpusParser surface)") {
    val t = tagsOf("testOPUS.opus")
    assert(t.get("title").contains("Test Title"), t)
    assert(t.get("artist").contains("Test Artist"), t)
  }

  test("asf content-description: author + WM/Year (ASFParser surface)") {
    val t = tagsOf("testWMA.wma")
    assert(t.get("artist").contains("administrator"), t)
    assert(t.get("year").exists(_.startsWith("2005")), t)
  }

  test("mp4 ilst: title/artist/created/cover (MP4ParserTest)") {
    val t = tagsOf("testMP4.m4a")
    assert(t.get("title").contains("Test Title"), t)
    assert(t.get("artist").contains("Test Artist"), t)
    assert(t.get("album").contains("Test Album"), t)
    assert(t.get("created").contains("2012-01-28T18:39:18Z"), t)
    val d = extract("testMP4_coverArt.m4a")
    assert(d.meta.getOrElse("embedded:path", Nil).mkString.contains("Cover art"),
      d.meta)
  }
}
