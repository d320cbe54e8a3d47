package graft

import java.nio.file.{Files, Path}
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import org.scalatest.funsuite.AnyFunSuite

/** XLSB (Excel binary workbook) extraction vs the reference's real
  * fixtures. Content assertions mirror the reference's own tests
  * (ooxml/OOXMLParserTest.java testExcelXLSB / testXLSBVarious /
  * testXLSBOriginalPath): detection to the binary-workbook type, the
  * example-spreadsheet sentence, formatted cells, hyperlinks,
  * header/footer text, and the AbsPath15 original-path metadata.
  */
class XlsbSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-microsoft-module/src/test/resources/test-documents")

  private def fixture(name: String): Array[Byte] = RefFixture.bytes(name, docs)

  private def extract(name: String): graft.core.ExtractedDoc = {
    val b = fixture(name)
    Extractor.extract(DocRow(name, Seq(Span("bytes", Corpus.b64(b), null, 0))))
  }

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("testEXCEL.xlsb: detected as binary workbook, example sentence") {
    val d = extract("testEXCEL.xlsb")
    assert(d.mime == "application/vnd.ms-excel.sheet.binary.macroenabled.12")
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains("This is an example spreadsheet"))
  }

  test("testEXCEL_various.xlsb: formatted cells, links, headers/footers") {
    val d = extract("testEXCEL_various.xlsb")
    assert(d.status == Status.ParseSuccess, d.status)
    val t = text(d)
    assert(t.contains("\t13\n") || t.contains("\t13\t"), t.take(400))
    assert(t.contains("20%"), t.take(400))
    assert(t.contains("3/9/17"), t.take(400))
    val links = d.meta.getOrElse("links", Seq.empty)
    assert(links.exists(_.contains("http://lucene.apache.org/")), links)
    assert(links.exists(_.contains("http://tika.apache.org/")), links)
    assert(t.contains("OddLeftHeader OddCenterHeader OddRightHeader"),
      t.takeRight(600))
    assert(t.contains("FirstPageLeftFooter FirstPageCenterFooter " +
      "FirstPageRightFooter"), t.takeRight(600))
  }

  test("testEXCEL_diagramData.xlsb: AbsPath15 original-path metadata") {
    val d = extract("testEXCEL_diagramData.xlsb")
    assert(d.meta.get("tk:orig_resource_name").flatMap(_.headOption)
      .contains("C:\\Users\\tallison\\Desktop\\working\\TIKA-1945\\"))
    // testXLSBDiagramData: SmartArt text comes from the diagram-data part
    assert(text(d).contains("SmartArt"))
  }

  test("chart cached values surface for both xlsb and xlsx") {
    // testXLSBChartData / testXLSXChartData expectations
    for (name <- Seq("testEXCEL_charts.xlsb", "testEXCEL_charts.xlsx")) {
      val t = text(extract(name))
      assert(t.contains("peach"), s"$name: ${t.takeRight(300)}")
      assert(t.contains("March\tApril"), s"$name: ${t.takeRight(300)}")
      assert(!t.contains("chartSpace"), name)
    }
    // testXLSXDiagramData
    assert(text(extract("testEXCEL_diagramData.xlsx")).contains("SmartArt"))
  }

  test("textbox and WordArt text surface from drawings") {
    val t = text(extract("testEXCEL_various.xlsb"))
    assert(t.contains("test textbox"), t.takeRight(400))
    assert(t.contains("test WordArt"), t.takeRight(400))
  }

  test("cell comments render as author-prefixed lines (xlsb + xlsx)") {
    val tb = text(extract("testEXCEL_various.xlsb"))
    assert(tb.contains("test comment2"), tb.takeRight(600))
    assert(tb.contains("comment4 (end of row)"), tb.takeRight(600))
    val tx = text(extract("testComment.xlsx"))
    assert(tx.contains("Here is a comment"), tx.takeRight(600))
  }

  test("all xlsb fixtures detect and parse without error status") {
    import scala.jdk.CollectionConverters._
    org.scalatest.Assertions.assume(Files.isDirectory(docs),
      "reference fixtures not present")
    val files = Files.list(docs).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.endsWith(".xlsb"))
      .sortBy(_.getFileName.toString)
    assert(files.nonEmpty)
    files.foreach { p =>
      val d = extract(p.getFileName.toString)
      assert(d.mime ==
        "application/vnd.ms-excel.sheet.binary.macroenabled.12",
        s"${p.getFileName}: ${d.mime}")
      assert(d.status == Status.ParseSuccess,
        s"${p.getFileName}: ${d.status}")
    }
  }

  test("rk number decoding: int, x100, and double-bits variants") {
    import graft.ooxml.XlsbExtractor
    assert(XlsbExtractor.rkValue((13L << 2) | 2L) == 13.0)
    assert(XlsbExtractor.rkValue((-5L & 0xffffffffL) << 2 & 0xffffffffL | 2L)
      == -5.0)
    // 3.03 stored as 303 ints / 100: fInt+fX100
    assert(XlsbExtractor.rkValue((303L << 2) | 3L) == 3.03)
    // double-bits variant: top 30 bits of 1.5 (0x3FF8...)
    val bits15 = java.lang.Double.doubleToLongBits(1.5)
    assert(XlsbExtractor.rkValue((bits15 >>> 32) & 0xfffffffcL) == 1.5)
  }

  test("header/footer control codes render as spaced sections") {
    import graft.ooxml.XlsbExtractor
    assert(XlsbExtractor.hfText("&LLeft&CCenter&RRight") == "Left Center Right")
    assert(XlsbExtractor.hfText("&C&\"Arial,Bold\"&12Only") == "Only" ||
      XlsbExtractor.hfText("&COnly") == "Only")
  }
}
