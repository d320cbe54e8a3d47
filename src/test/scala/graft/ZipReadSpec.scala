package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{DocRow, Span, Status}
import graft.engine.{Extractor, ZipBombDetected}
import graft.zipx.ZipUtil

/** The two rules every `ZipUtil` member read shares: one budget across
  * the members a call buffers, and the central-directory fallback when
  * the stream sees no member of an archive that has one. */
class ZipReadSpec extends AnyFunSuite {

  /** A `.docx` whose eight extra XML parts inflate to 40 MB each: every
    * part is under `MaxEntryBytes`, all of them together over
    * `MaxTotalBytes`. */
  private lazy val heavyDocx: Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val z = new ZipOutputStream(out)
    def part(name: String)(write: ZipOutputStream => Unit): Unit = {
      z.putNextEntry(new ZipEntry(name)); write(z); z.closeEntry()
    }
    part("[Content_Types].xml")(_.write(("<Types xmlns=\"http://schemas.openxmlformats.org/" +
      "package/2006/content-types\"><Override PartName=\"/word/document.xml\" ContentType=" +
      "\"application/vnd.openxmlformats-officedocument.wordprocessingml.document.main+xml\"/>" +
      "</Types>").getBytes(UTF_8)))
    part("word/document.xml")(_.write(("<w:document xmlns:w=\"http://schemas.openxmlformats.org/" +
      "wordprocessingml/2006/main\"><w:body><w:p><w:r><w:t>small</w:t></w:r></w:p>" +
      "</w:body></w:document>").getBytes(UTF_8)))
    val chunk = "<w:p/>".getBytes(UTF_8)
    val block = Array.concat(Seq.fill(65536 / chunk.length)(chunk): _*)
    for (i <- 1 to 8) part(s"word/pad$i.xml") { z =>
      var left = 40L * 1024 * 1024
      while (left > 0) {
        val n = math.min(left, block.length.toLong).toInt
        z.write(block, 0, n); left -= n
      }
    }
    z.close()
    out.toByteArray
  }

  test("entriesMap charges MaxTotalBytes across the parts it buffers") {
    assert(heavyDocx.length < 1024 * 1024)
    intercept[ZipBombDetected](ZipUtil.entriesMap(heavyDocx, ZipUtil.XmlParts))
    val doc = Extractor.extract(DocRow("heavy",
      Seq(Span("bytes", Base64.getEncoder.encodeToString(heavyDocx), null, 0))))
    assert(doc.status == Status.ZipBomb)
  }

  test("a prefixed archive's parts come from the central directory") {
    val prefixed = new Array[Byte](512) ++ ZipPins.docx
    val all = ZipUtil.entries(prefixed)
    assert(all.exists(_.name == "[Content_Types].xml"))
    val parts = ZipUtil.entriesMap(prefixed, ZipUtil.XmlParts)
    assert(parts.keySet == all.map(_.name).filter(ZipUtil.XmlParts).toSet)
    for (e <- all if ZipUtil.XmlParts(e.name)) assert(parts(e.name).sameElements(e.data), e.name)
    val ct = ZipUtil.entry(prefixed, "[Content_Types].xml")
    assert(ct.exists(_.sameElements(all.find(_.name == "[Content_Types].xml").get.data)))
  }
}
