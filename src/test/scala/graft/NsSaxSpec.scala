package graft

import java.nio.charset.StandardCharsets.UTF_8
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import org.scalatest.funsuite.AnyFunSuite

/** Every XML-based extractor parses through `NsSax`, whose nested parses
  * (an embedded document parsed from inside a SAX callback) get their own
  * parser. */
class NsSaxSpec extends AnyFunSuite {

  private def fb2(para: String, binary: String = ""): String =
    """<?xml version="1.0" encoding="UTF-8"?>""" +
      """<FictionBook xmlns="http://www.gribuser.ru/xml/fictionbook/2.0">""" +
      "<description><title-info><book-title>Outer</book-title></title-info></description>" +
      s"<body><section><p>$para</p></section></body>$binary</FictionBook>"

  private val tmx =
    """<?xml version="1.0" encoding="UTF-8"?><tmx version="1.4">""" +
      """<header creationtool="t" creationtoolversion="1" datatype="plaintext" """ +
      """segtype="sentence" adminlang="en-us" srclang="en-us" o-tmf="t"/>""" +
      """<body><tu><tuv xml:lang="en-us"><seg>Inner segment</seg></tuv></tu></body></tmx>"""

  test("an FB2 <binary> holding another FB2 or a TMX keeps both documents' text") {
    for ((id, inner, want) <- Seq(("inner.fb2", fb2("Inner paragraph"), "Inner paragraph"),
        ("inner.tmx", tmx, "Inner segment"))) {
      val binary = s"""<binary id="$id" content-type="application/octet-stream">""" +
        Corpus.b64(inner.getBytes(UTF_8)) + "</binary>"
      val outer = fb2("Outer paragraph", binary).getBytes(UTF_8)
      val d = Extractor.extract(DocRow(id, Seq(Span("bytes", Corpus.b64(outer), null, 0))))
      val text = d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")
      assert(d.status == Status.ParseSuccess, id)
      assert(d.meta.get("parse:exception").isEmpty, d.meta.get("parse:exception"))
      assert(text.contains("Outer paragraph") && text.contains(want), text)
    }
  }
}
