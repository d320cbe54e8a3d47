package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.Base64
import java.util.zip.{CRC32, ZipEntry, ZipOutputStream}
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.Corpus
import graft.zipx.ZipUtil

/** One hash per public `ZipUtil` call over every ZIP payload of the first
  * 2000 corpus rows, the encrypted-ZIP fixtures, hand-built malformed
  * archives and seeded bit-flips and truncations of a corpus `.docx`
  * (FIXTURES.md §4). Every hash must match byte for byte. A missing pin
  * file fails: regenerate it only on purpose, with
  * `sbt 'Test/runMain FreezeZipPins'`.
  */
object ZipPins {

  val path = Paths.get("src/test/resources/golden", s"zip-pins-v${Corpus.Version}.tsv")

  val Names: Seq[String] = Seq("[Content_Types].xml", "mimetype", "word/document.xml")

  val Calls: Seq[String] = Seq("entries", "walk", "walk_pw", "entriesMap") ++
    Names.map("entry:" + _) :+ "entryNames"

  final case class Input(label: String, bytes: Array[Byte], password: String)

  /** Every pinned archive, in file order. */
  def inputs: Iterator[Input] = corpusZips ++ fixtures ++ crafted ++ mutants

  private def isZip(b: Array[Byte]): Boolean =
    b.length >= 4 && b(0) == 'P' && b(1) == 'K' && b(2) == 3 && b(3) == 4

  private def corpusZips: Iterator[Input] =
    (0 until 2000).iterator.flatMap { i =>
      Corpus.row(i.toLong).spans.zipWithIndex.flatMap { case (s, k) =>
        val b = try Base64.getDecoder.decode(s.text)
        catch { case _: IllegalArgumentException => Array.emptyByteArray }
        if (s.kind != "html" && isZip(b)) Some(Input(s"corpus:$i:$k", b, "x")) else None
      }
    }

  private def resource(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/zipcrypto/$name")
    try in.readAllBytes() finally in.close()
  }

  private def fixtures: Iterator[Input] = Iterator(
    "enc_deflate.zip" -> "tika-zc", "enc_stored.zip" -> "tika-zc",
    "mixed.zip" -> "s3cret!", "ae_mixed.zip" -> "tika-ae"
  ).map { case (n, pw) => Input(s"zipcrypto:$n", resource(n), pw) }

  /** First `.docx` of the corpus: the base of the crafted and mutated rows. */
  lazy val docx: Array[Byte] = Base64.getDecoder.decode(
    (0 until 2000).iterator.map(i => Corpus.row(i.toLong))
      .find(_.spans.head.kind == "docx").get.spans.head.text)

  /** A STORED archive written field by field: `(localName, centralName,
    * data)` per member, GP `flags` on every record, and with GP bit 3 a
    * data descriptor after each member instead of local sizes.
    */
  def rawZip(members: Seq[(Array[Byte], Array[Byte], Array[Byte])], flags: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val cen = new ByteArrayOutputStream()
    def u16(o: ByteArrayOutputStream, v: Int): Unit = { o.write(v & 0xff); o.write((v >>> 8) & 0xff) }
    def u32(o: ByteArrayOutputStream, v: Long): Unit = { u16(o, (v & 0xffff).toInt); u16(o, ((v >>> 16) & 0xffff).toInt) }
    val descriptor = (flags & 0x8) != 0
    for ((local, central, data) <- members) {
      val crc = new CRC32(); crc.update(data)
      val at = out.size()
      u32(out, 0x04034b50L); u16(out, 20); u16(out, flags); u16(out, 0)
      u16(out, 0); u16(out, 0x21)
      u32(out, if (descriptor) 0 else crc.getValue)
      u32(out, if (descriptor) 0 else data.length); u32(out, if (descriptor) 0 else data.length)
      u16(out, local.length); u16(out, 0); out.write(local); out.write(data)
      if (descriptor) {
        u32(out, 0x08074b50L); u32(out, crc.getValue); u32(out, data.length); u32(out, data.length)
      }
      u32(cen, 0x02014b50L); u16(cen, 20); u16(cen, 20); u16(cen, flags); u16(cen, 0)
      u16(cen, 0); u16(cen, 0x21); u32(cen, crc.getValue)
      u32(cen, data.length); u32(cen, data.length)
      u16(cen, central.length); u16(cen, 0); u16(cen, 0); u16(cen, 0); u16(cen, 0)
      u32(cen, 0); u32(cen, at); cen.write(central)
    }
    val cdOff = out.size()
    out.write(cen.toByteArray)
    u32(out, 0x06054b50L); u16(out, 0); u16(out, 0)
    u16(out, members.length); u16(out, members.length)
    u32(out, cen.size()); u32(out, cdOff); u16(out, 0)
    out.toByteArray
  }

  private def same(name: String, data: String) =
    (name.getBytes(UTF_8), name.getBytes(UTF_8), data.getBytes(UTF_8))

  /** A deflated archive of `members`, written by `ZipOutputStream`. */
  def deflated(members: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val z = new ZipOutputStream(out)
    for ((n, d) <- members) {
      val e = new ZipEntry(n); e.setTime(1735689600000L)
      z.putNextEntry(e); z.write(d); z.closeEntry()
    }
    z.close()
    out.toByteArray
  }

  private def eocd(b: Array[Byte]): Int =
    (b.length - 22 to math.max(0, b.length - 65557) by -1).find(i =>
      b(i) == 'P' && b(i + 1) == 'K' && b(i + 2) == 5 && b(i + 3) == 6).getOrElse(-1)

  private def crafted: Iterator[Input] = Iterator(
    "stored+descriptor" -> (() => rawZip(Seq(same("a.txt", "alpha"), same("b/c.xml", "<c/>")), 0x8)),
    "cp437-names" -> (() => rawZip(Seq(
      ("caf\u0082.txt".getBytes(ISO_8859_1), "caf\u0082.txt".getBytes(ISO_8859_1), "cafe".getBytes(UTF_8)),
      same("plain.txt", "plain")), 0)),
    "utf8-names-no-bit11" -> (() => rawZip(Seq(same("naïve.txt", "naive"),
      same("日本.xml", "<j/>")), 0)),
    "zip64-65536" -> (() => deflated((0 until 65536).map(i => f"m$i%05x" -> Array.emptyByteArray))),
    "prefix-512" -> (() => new Array[Byte](512) ++ docx),
    "cut-before-eocd" -> (() => docx.take(eocd(docx))),
    "name-mismatch" -> (() => rawZip(Seq(same("[Content_Types].xml", "<Types/>"),
      ("word/document.xml".getBytes(UTF_8), "word/documenx.xml".getBytes(UTF_8),
        "<w:document/>".getBytes(UTF_8))), 0)),
    "duplicate-names" -> (() => rawZip(Seq(same("mimetype", "first"), same("x.xml", "<x/>"),
      same("mimetype", "second")), 0)),
    "over-max-entry.xml" -> (() => deflated(Seq("[Content_Types].xml" -> "<Types/>".getBytes(UTF_8),
      "big.xml" -> new Array[Byte](ZipUtil.MaxEntryBytes + 1)))),
    "over-max-entry.bin" -> (() => deflated(Seq("[Content_Types].xml" -> "<Types/>".getBytes(UTF_8),
      "big.bin" -> new Array[Byte](ZipUtil.MaxEntryBytes + 1))))
  ).map { case (label, mk) => Input(s"crafted:$label", mk(), "x") }

  /** 200 bit-flips anywhere, 100 in the last quarter (central directory
    * and end record) and 100 truncations of [[docx]], each seeded by its
    * number. */
  private def mutants: Iterator[Input] = (0 until 400).iterator.map { i =>
    val r = new Random(9000L + i)
    val b = docx.clone()
    if (i < 300) {
      val from = if (i < 200) 0 else b.length * 3 / 4
      val at = from + r.nextInt(b.length - from)
      b(at) = (b(at) ^ (1 << r.nextInt(8))).toByte
      Input(s"flip:$i@$at", b, "x")
    } else {
      val n = r.nextInt(b.length)
      Input(s"cut:$i@$n", b.take(n), "x")
    }
  }

  /** First 16 hex digits of the SHA-256 of `v`'s length-prefixed
    * encoding, or `!` and the class name of the exception it threw. */
  def hash(v: => Any): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def int(x: Long): Unit = (56 to 0 by -8).foreach(s => md.update((x >>> s).toByte))
    def bytes(b: Array[Byte]): Unit = { int(b.length); md.update(b) }
    def str(s: String): Unit = bytes(s.getBytes(UTF_8))
    def entries(es: Seq[ZipUtil.Entry]): Unit = {
      int(es.length); es.foreach { e => str(e.name); bytes(e.data); int(e.compressedSize) }
    }
    try {
      v match {
        case w: ZipUtil.Walk => entries(w.entries); int(w.encrypted.length); w.encrypted.foreach(str)
        case m: Map[_, _] =>
          val kv = m.asInstanceOf[Map[String, Array[Byte]]].toSeq.sortBy(_._1)
          int(kv.length); kv.foreach { case (k, d) => str(k); bytes(d) }
        case Some(d: Array[Byte]) => int(1); bytes(d)
        case None => int(0)
        case xs: Vector[_] =>
          int(xs.length)
          xs.foreach {
            case e: ZipUtil.Entry => str(e.name); bytes(e.data); int(e.compressedSize)
            case n: String => str(n)
          }
      }
      md.digest().take(8).map(x => f"${x & 0xff}%02x").mkString
    } catch { case e: Exception => "!" + e.getClass.getSimpleName }
  }

  /** One hash per entry of [[Calls]]. */
  def hashes(in: Input): Seq[String] = {
    val b = in.bytes
    Seq(hash(ZipUtil.entries(b)), hash(ZipUtil.walk(b, None)),
      hash(ZipUtil.walk(b, Some(in.password))), hash(ZipUtil.entriesMap(b, ZipUtil.XmlParts))) ++
      Names.map(n => hash(ZipUtil.entry(b, n))) :+ hash(ZipUtil.entryNames(b))
  }

  /** Header line, then per input: label, one hash per call. */
  def render(): String = {
    val header = ("# label" +: Calls).mkString("\t")
    val lines = inputs.map(in => (in.label +: hashes(in)).mkString("\t"))
    (header +: lines.toSeq).mkString("", "\n", "\n")
  }
}

class ZipPinsSpec extends AnyFunSuite {

  test("every public ZipUtil call matches the frozen hashes") {
    assert(Files.exists(ZipPins.path),
      s"${ZipPins.path} is missing; regenerate it on purpose with " +
        "sbt 'Test/runMain FreezeZipPins' and review the change")
    val want = Files.readString(ZipPins.path).split("\n")
    assert(want.head == ("# label" +: ZipPins.Calls).mkString("\t"),
      "call list differs from the pin file")
    val rows = want.tail.map(_.split("\t"))
    val ins = ZipPins.inputs.toVector
    assert(ins.map(_.label) == rows.map(_(0)).toVector, "input list differs from the pin file")
    val diffs = ins.zip(rows).flatMap { case (in, row) =>
      val got = ZipPins.hashes(in)
      val want = row.drop(1)
      ZipPins.Calls.indices.filter(c => got(c) != want(c)).map(c =>
        s"${in.label} ${ZipPins.Calls(c)}: ${want(c)} -> ${got(c)}")
    }
    assert(diffs.isEmpty, s"${diffs.length} calls differ; first: ${diffs.take(10).mkString("; ")}")
  }
}
