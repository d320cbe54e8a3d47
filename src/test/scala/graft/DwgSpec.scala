package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** DWG header-property extraction vs the reference's real fixtures;
  * assertions mirror dwg/DWGParserTest.java (pangram title, creator,
  * keywords, hyperlink; the no-header 2004 file yields nothing; custom
  * properties from the 2010 file).
  */
class DwgSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-cad-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  private def checkStandard(name: String): Unit = {
    val d = extract(name)
    assert(d.mime == "image/vnd.dwg", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.meta.get("dc:title").exists(_.contains(
      "The quick brown fox jumps over the lazy dog")), d.meta.get("dc:title"))
    assert(d.meta.get("dc:creator").exists(_.contains("Nevin Nollop")))
    val t = text(d)
    assert(t.contains("The quick brown fox jumps over the lazy dog"), t.take(200))
    assert(t.contains("Gym class"))
    assert(t.contains("www.alfresco.com"))
  }

  test("testDWG2004.dwg (AC1018, CP1252 strings)") { checkStandard("testDWG2004.dwg") }
  test("testDWG2007.dwg (AC1021, UTF-16LE strings)") { checkStandard("testDWG2007.dwg") }
  test("testDWG2010.dwg (AC1024)") { checkStandard("testDWG2010.dwg") }
  test("testDWG2000.dwg (AC1015, DWGPROPS COOKIE records)") {
    // the 2000 fixture carries different content (testParserAlt)
    val d = extract("testDWG2000.dwg")
    assert(d.mime == "image/vnd.dwg")
    assert(d.meta.get("dc:title").exists(_.contains("Test Title")), d.meta.get("dc:title"))
    assert(d.meta.get("dc:description").exists(_.contains("Test Subject")))
    assert(d.meta.get("dc:creator").exists(_.contains("My Author")))
    assert(d.meta.get("dc:subject").exists(_.contains("My keyword1, MyKeyword2")))
    assert(d.meta.get("meta:last-author").exists(_.contains("bejanpol")))
    assert(d.meta.get("dc:relation").exists(_.contains("http://mycompany/drawings")))
    assert(d.meta.get("dwg-custom:MyCustomProperty").exists(_.contains("MyCustomPropertyValue")),
      d.meta.filter(_._1.startsWith("dwg")))
    val t = text(d)
    assert(t.contains("This is a comment"), t.take(200))
    assert(t.contains("mycompany"))
  }

  test("testDWG2004_no_header.dwg: parses clean with no properties") {
    val d = extract("testDWG2004_no_header.dwg")
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.meta.get("dc:title").isEmpty)
  }

  test("testDWG2010_custom_props.dwg: custom name/value pairs") {
    val d = extract("testDWG2010_custom_props.dwg")
    assert(d.meta.get("dwg-custom:customprop1").exists(_.contains("valueforcustomprop1")),
      d.meta.filter(_._1.startsWith("dwg")))
    assert(d.meta.get("dwg-custom:customprop2").exists(_.contains("valueforcustomprop2")))
  }

  test("newer versions AC1027/AC1032 parse") {
    for (f <- Seq("testDWG-AC1027.dwg", "testDWG-AC1032.dwg")) {
      val d = extract(f)
      assert(d.status == Status.ParseSuccess, s"$f -> ${d.status}")
    }
  }
}
