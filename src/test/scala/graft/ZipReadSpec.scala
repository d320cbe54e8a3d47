package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{DocRow, Span, Status}
import graft.engine.{Extractor, ZipBombDetected}
import graft.zipx.ZipUtil

/** The rules every `ZipUtil` call shares: one budget across the members
  * a call buffers, and one read of one view, so names, maps and single
  * members agree and members a call drops are never inflated. */
class ZipReadSpec extends AnyFunSuite {

  /** Offset of the first record with signature `PK<sig><sig+1>` naming `name`. */
  private def header(b: Array[Byte], sig: Int, name: String): Int = {
    val n = name.getBytes(UTF_8)
    val nameAt = if (sig == 3) 30 else 46
    (0 until b.length - nameAt - n.length).find { i =>
      b(i) == 'P' && b(i + 1) == 'K' && b(i + 2) == sig && b(i + 3) == sig + 1 &&
        java.util.Arrays.equals(b, i + nameAt, i + nameAt + n.length, n, 0, n.length)
    }.get
  }

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

  test("entriesMap, entry and entryNames read the members entries reads") {
    val broken = ZipPins.inputs.flatMap { in =>
      val b = in.bytes
      scala.util.Try(ZipUtil.entries(b)).toOption.toSeq.flatMap { all =>
        val firsts = all.reverse.map(e => e.name -> e.data).toMap
        val map = ZipUtil.entriesMap(b, ZipUtil.XmlParts)
        val want = firsts.filter { case (n, _) => ZipUtil.XmlParts(n) }
        val mapOk = map.keySet == want.keySet && want.forall { case (n, d) => map(n).sameElements(d) }
        val entryOk = ZipPins.Names.forall(n =>
          ZipUtil.entry(b, n).map(_.toSeq) == all.find(_.name == n).map(_.data.toSeq))
        val names = ZipUtil.entryNames(b).toSet
        val namesOk = all.forall(e => names.contains(e.name))
        Seq(s"${in.label} map" -> mapOk, s"${in.label} entry" -> entryOk,
          s"${in.label} names" -> namesOk).collect { case (l, false) => l }
      }
    }.toVector
    assert(broken.isEmpty, s"${broken.length} disagree: ${broken.take(10).mkString("; ")}")
  }

  test("a corrupt part a .docx never reads does not fail the document") {
    val png = "word/media/image1.png"
    val b = ZipPins.deflated(ZipUtil.entries(ZipPins.docx).map(e => e.name -> e.data) :+
      (png -> Array.tabulate[Byte](4096)(i => (i * 31).toByte)))
    // its first compressed byte declares the reserved deflate block type
    val lo = header(b, 3, png)
    b(lo + 30 + png.length + (b(lo + 28) & 0xff) + ((b(lo + 29) & 0xff) << 8)) = 0xff.toByte
    intercept[Exception](ZipUtil.entry(b, png))
    val parts = ZipUtil.entriesMap(b, ZipUtil.XmlParts)
    val want = ZipUtil.entriesMap(ZipPins.docx, ZipUtil.XmlParts)
    assert(parts.keySet == want.keySet && parts.keySet.contains("word/document.xml"))
    for ((n, d) <- want) assert(parts(n).sameElements(d), n)
    def text(bytes: Array[Byte]) = {
      val doc = Extractor.extract(DocRow("d.docx",
        Seq(Span("bytes", Base64.getEncoder.encodeToString(bytes), null, 0))))
      (doc.status, doc.spans.filter(_.kind == Span.KindText).map(_.text))
    }
    val (status, spans) = text(b)
    assert(status == Status.ParseSuccess)
    assert(spans.nonEmpty && spans == text(ZipPins.docx)._2)
  }

  test("a member whose central directory over-declares its size is not zero-padded") {
    val body = "hello, central directory".getBytes(UTF_8)
    val b = new Array[Byte](512) ++ ZipPins.deflated(Seq("a.txt" -> body))
    val cen = header(b, 1, "a.txt")
    b(cen + 24) = (b(cen + 24) + 16).toByte // uncompressed size, low byte
    assert(ZipUtil.entries(b).map(_.data.toSeq) == Vector(body.toSeq))
    assert(ZipUtil.entry(b, "a.txt").map(_.toSeq).contains(body.toSeq))
  }
}
