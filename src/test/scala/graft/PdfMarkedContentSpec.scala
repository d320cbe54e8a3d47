package graft

import java.nio.file.Path
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import org.scalatest.funsuite.AnyFunSuite

/** Tagged-PDF structure-tree extraction (extractMarkedContent analog of
  * PDFParserConfig) — parity targets from PDFMarkedContent2XHTMLTest:
  * testJournalParser.pdf headings and table cells in logical order,
  * testPDFVarious.pdf textboxes/footnotes/bullets/header/footer, and
  * testPDF_childAttachments.pdf link anchors whose TEXT differs from the
  * href (classic positional extraction can't produce those anchors).
  */
class PdfMarkedContentSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-pdf-module/src/test/resources/test-documents")

  private def extract(name: String, marked: Boolean = true) = {
    val b = RefFixture.bytes(name, docs)
    // unlimited-ish write budget: the reference tests run with
    // BasicContentHandlerFactory -1 (childAttachments alone tops 100k)
    Extractor.extract(
      DocRow(name, Seq(Span("pdf", Corpus.b64(b), null, 0))),
      Extractor.DefaultConfig.copy(extractMarkedContent = marked,
        writeLimit = 10000000))
  }

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("journal: headings and table cells in structure order") {
    val d = extract("testJournalParser.pdf")
    assert(d.status == Status.ParseSuccess, d.status)
    val t = text(d)
    assert(t.contains("I. INTRODUCTION"), t.take(400))
    assert(t.contains("NHG"))
    assert(t.contains("STRING"))
  }

  test("various: textbox, footnote, bullets, table, header/footer") {
    val d = extract("testPDFVarious.pdf")
    assert(d.status == Status.ParseSuccess, d.status)
    val t = text(d)
    assert(t.contains("Here is a text box"))
    assert(t.contains("This is a footnote."))
    assert(t.contains("Bullet 1"))
    assert(t.contains("Row 1 Col 1"))
    assert(t.contains("Here is a citation:"))
    assert(t.contains("This is a hyperlink"))
    assert(t.contains("This is the header text."))
    assert(t.contains("This is the footer text."))
  }

  test("child attachments: link anchor text, not duplicated hrefs") {
    val d = extract("testPDF_childAttachments.pdf")
    assert(d.status == Status.ParseSuccess, d.status)
    val t = text(d)
    // anchors whose text differs from the href — only the structure
    // tree yields these (PDFMarkedContent2XHTMLTest "victory" comment)
    assert(t.contains("IRS.gov"), t.take(400))
    assert(t.contains("www.irs.gov/pub15"))
  }

  test("untagged PDFs fall back to classic extraction under the flag") {
    val d = extract("testPDF_rotated.pdf")
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).contains("Apache Tika"))
  }

  test("flag off: classic path unchanged") {
    val d = extract("testJournalParser.pdf", marked = false)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(text(d).nonEmpty)
  }

  test("surrogate-pair bfrange destinations decode (journal CMap)") {
    // the journal's math font maps through <D835DC36>-style pairs; the
    // classic path previously died in ToUnicode parsing
    val d = extract("testJournalParser.pdf", marked = false)
    assert(d.status == Status.ParseSuccess, d.status)
  }
}
