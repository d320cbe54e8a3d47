package graft

import java.nio.file.Path
import graft.core.{Span, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Executable (PE/ELF/Mach-O) metadata and Java .class structure vs the
  * reference's real fixtures; assertions mirror
  * executable/ExecutableParserTest.java and asm/ClassParserTest.java.
  */
class CodeModuleSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-modules/" +
    "tika-parser-code-module/src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc =
    RefFixture.extract(docs, name)

  private def one(d: graft.core.ExtractedDoc, key: String): String =
    d.meta.getOrElse(key, Nil).headOption.getOrElse("")

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("PE: testWindows-x86-32.exe (ExecutableParserTest.testWin32Parser)") {
    val d = extract("testWindows-x86-32.exe")
    assert(d.mime == "application/x-msdownload", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(one(d, "machine:machineType") == "x86-32")
    assert(one(d, "machine:endian") == "Little")
    assert(one(d, "machine:architectureBits") == "32")
    assert(one(d, "machine:platform") == "Windows")
    assert(one(d, "meta:creation-date") == "2012-05-13T13:40:11Z",
      one(d, "meta:creation-date"))
  }

  test("ELF: testLinux-x86-32 (testElfParser_x86_32)") {
    val d = extract("testLinux-x86-32")
    assert(d.mime == "application/x-executable", d.mime)
    assert(one(d, "machine:machineType") == "x86-32")
    assert(one(d, "machine:endian") == "Little")
    assert(one(d, "machine:architectureBits") == "32")
  }

  test("ELF: testLinux-x86-64") {
    val d = extract("testLinux-x86-64")
    assert(one(d, "machine:machineType") == "x86-64")
    assert(one(d, "machine:architectureBits") == "64")
  }

  test("ELF: mips big/little endian pair") {
    val be = extract("testLinux-mips-32be")
    assert(one(be, "machine:machineType") == "MIPS")
    assert(one(be, "machine:endian") == "Big")
    val le = extract("testLinux-mips-32le")
    assert(one(le, "machine:machineType") == "MIPS")
    assert(one(le, "machine:endian") == "Little")
  }

  test("ELF: arm + ppc") {
    val arm = extract("testLinux-arm-32le")
    assert(one(arm, "machine:machineType") == "ARM")
    val ppc = extract("testLinux-ppc-32be")
    assert(one(ppc, "machine:machineType") == "PPC")
    assert(one(ppc, "machine:endian") == "Big")
  }

  test("Mach-O: testMacOS-x86_64 (testMachOParser_x86_64)") {
    val d = extract("testMacOS-x86_64")
    assert(one(d, "machine:machineType") == "x86-64")
    assert(one(d, "machine:endian") == "Little")
    assert(one(d, "machine:architectureBits") == "64")
    assert(one(d, "machine:fileType") == "executable")
  }

  test("Mach-O: testMacOS-arm64 (testMachOParser_arm64)") {
    val d = extract("testMacOS-arm64")
    assert(one(d, "machine:machineType") == "ARM")
    assert(one(d, "machine:architectureBits") == "64")
    assert(one(d, "machine:fileType") == "executable")
  }

  test("Mach-O universal: testMacOS-x86_64-arm64 carries both slices") {
    val d = extract("testMacOS-x86_64-arm64")
    assert(one(d, "machine:fatArchCount") == "2", d.meta.filter(_._1.startsWith("machine")))
    val machines = Seq(one(d, "arch0:machine:machineType"),
      one(d, "arch1:machine:machineType"))
    assert(machines.contains("x86-64") && machines.contains("ARM"), machines)
  }

  test(".class: AutoDetectParser.class (ClassParserTest.testClassParsing)") {
    val d = extract("AutoDetectParser.class")
    assert(d.mime == "application/java-vm", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(one(d, "dc:title") == "AutoDetectParser")
    assert(one(d, "resource-name") == "AutoDetectParser.class")
    val t = text(d)
    assert(t.contains("package org.apache.tika.parser;"), t.take(200))
    assert(t.contains("class AutoDetectParser extends CompositeParser"), t.take(400))
    assert(t.contains("private org.apache.tika.mime.MimeTypes types"), t)
    assert(t.contains("public void parse(java.io.InputStream, " +
      "org.xml.sax.ContentHandler, org.apache.tika.metadata.Metadata) throws " +
      "java.io.IOException, org.xml.sax.SAXException, " +
      "org.apache.tika.exception.TikaException;"), t)
    assert(t.contains("private byte[] getPrefix(java.io.InputStream, int) " +
      "throws java.io.IOException;"), t)
  }

  test(".class: AppleSingleFileParser.class (Java 11 target, TIKA-2992)") {
    val d = extract("AppleSingleFileParser.class")
    assert(d.status == Status.ParseSuccess, d.status)
    assert(one(d, "dc:title") == "AppleSingleFileParser")
  }
}
