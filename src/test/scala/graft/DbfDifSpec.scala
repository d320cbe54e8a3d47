package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** DBF + DIF extraction vs the reference's real fixtures
  * (dbf/DBFParserTest.java, dif/DIFParserTest.java expectations).
  */
class DbfDifSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-miscoffice-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("testDBF.dbf: columns, dates, numerics, multilingual cells") {
    val d = extract("testDBF.dbf")
    assert(d.mime == "application/x-dbf", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    val t = text(d)
    assert(t.contains("普林斯顿大学"), t.take(400))
    assert(t.contains("امعة"), t.take(400))
    assert(t.contains("05/26/2016"))
    assert(t.contains("4.0"))
    assert(d.meta.get("dcterms:modified").exists(_.contains("2016-05-24T00:00:00Z")),
      d.meta.get("dcterms:modified"))
    assert(d.meta.get("dbf:version").exists(_.contains("FoxBASE_plus")))
  }

  test("testDBF_gb18030.dbf: East-Asian charset cells decode") {
    val d = extract("testDBF_gb18030.dbf")
    assert(d.status == Status.ParseSuccess, d.status)
    // CJK content must survive (not mojibake)
    assert(text(d).exists(c => c >= 0x4e00 && c <= 0x9fff), text(d).take(200))
  }

  test("Zamora2010.dif: DIF leaf metadata + rendered title and bounds") {
    val d = extract("Zamora2010.dif")
    assert(d.mime == "application/dif+xml", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    val t = text(d)
    assert(t.contains("Title: Zamora 2010 Using Sediment Geochemistry"), t.take(300))
    assert(t.contains("Southernmost_Latitude : 78.833"))
    assert(t.contains("Northernmost_Latitude : 79.016"))
    assert(t.contains("Westernmost_Longitude : 11.64"))
    assert(t.contains("Easternmost_Longitude : 13.34"))
    assert(d.meta.get("DIF-Entry_ID")
      .exists(_.contains("00794186-48f9-11e3-9dcb-00c0f03d5b7c")), d.meta.keys.take(10))
    assert(d.meta.get("DIF-Metadata_Name").exists(_.contains("ACADIS IDN DIF")))
  }
}
