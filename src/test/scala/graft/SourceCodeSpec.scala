package graft

import java.nio.file.{Files, Path}
import graft.core.{Span, Status}
import graft.textparse.SourceCodeExtractor
import org.scalatest.funsuite.AnyFunSuite

/** Source-code route vs the reference's code-module fixtures.
  * Expectations mirror SourceCodeParserTest: verbatim code text, the
  * `LoC` count (testGROOVY.groovy == 9), `dc:creator` from `@author`
  * (testCPP.cpp == "Hong-Thai Nguyen"); the token-class counts come
  * from the from-scratch lexer replacing jhighlight's span classes.
  */
class SourceCodeSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-code-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("testJAVA.java: detected, verbatim text, lexer classes") {
    val d = extract("testJAVA.java")
    assert(d.mime == "text/x-java-source", d.mime)
    assert(d.status == Status.ParseSuccess)
    val t = text(d)
    // SourceCodeParserTest.testReturnContentAsIsForTextHandler
    assert(t.contains("public class HelloWorld {"))
    assert(t.contains("""System.out.println("Hello, World");"""))
    // no markup leaks (testNoMarkupInToTextHandler)
    assert(!t.contains("background-color") && !t.contains("<span"))
    // the lexer saw keywords (public/static/void/class/new...) and the
    // one string literal outside comments
    // public x2, class, static, void (String is a class, not a keyword)
    assert(d.meta("code:tokens_keyword").head.toInt == 5,
      d.meta("code:tokens_keyword"))
    assert(d.meta("code:tokens_string").head.toInt == 1,
      d.meta("code:tokens_string"))
    assert(d.meta("code:tokens_comment").head.toInt == 1) // the banner
  }

  test("testGROOVY.groovy: LoC == 9 like the reference") {
    val d = extract("testGROOVY.groovy")
    assert(d.mime == "text/x-groovy", d.mime)
    assert(d.meta("LoC").head == "9", d.meta("LoC"))
    // 3 comments: //hello.groovy, // this is a comment, /* block */
    assert(d.meta("code:tokens_comment").head.toInt == 3)
  }

  test("testCPP.cpp: @author lands in dc:creator like the reference") {
    // detection parity first: the reference's own AutoDetect yields
    // text/x-csrc here (the `#include ` magic wins and MimeTypes
    // applyHint only specializes — x-c++src is a sibling under
    // text/plain, not a specialization of x-csrc), and
    // SourceCodeParserTest force-feeds the type instead. So the e2e
    // doc lands on text; the SourceCodeParser face is pinned by
    // driving the extractor with the declared type, like the test.
    val d = extract("testCPP.cpp")
    assert(d.mime == "text/x-csrc", d.mime)
    assert(text(d).contains("""cout << "Hello World!";"""))
    val b = Files.readAllBytes(docs.resolve("testCPP.cpp"))
    val sink = new graft.engine.SpanSink
    val meta = new graft.engine.MetaSink
    graft.textparse.SourceCodeExtractor.extract(b, sink, meta,
      "text/x-c++src")
    assert(meta.get("dc:creator").exists(_.contains("Hong-Thai Nguyen")),
      meta.get("dc:creator"))
    assert(meta.get("LoC") == Some("14"), meta.get("LoC"))
    // #include, main, cout, return, int... the cpp keyword set fires
    assert(meta.get("code:tokens_keyword").exists(_.toInt >= 4))
  }

  test("lexer classifies a crafted snippet exactly") {
    val src =
      """// one line comment
        |public class A {
        |  /* block */ int x = 42; // trailing
        |  String s = "hi \" there";
        |  char c = 'y';
        |}
        |""".stripMargin
    val t = SourceCodeExtractor.lex(src, "text/x-java-source")
    // keywords: public class int char = 4; plain: A x s c = 4 + String
    assert(t.keyword == 4, t)
    assert(t.plain == 5, t)
    assert(t.comment == 3, t)
    assert(t.string == 2, t) // "hi \" there" and 'y'
    assert(t.number == 1, t)
  }

  test("testC.c still lands on the plain-text route (reference parity)") {
    val d = extract("testC.c")
    assert(d.mime == "text/x-csrc", d.mime)
    assert(d.status == Status.ParseSuccess)
    assert(!d.meta.contains("LoC")) // SourceCodeParser doesn't take .c
  }
}
