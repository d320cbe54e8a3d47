package graft.sci

import graft.engine.{MetaSink, SpanSink}
import java.nio.charset.StandardCharsets
import graft.core.Endian

/** Stata .dta dataset metadata — from scratch per the public Stata
  * dta_117/118 documentation (the XML-tagged binary layout) plus the
  * classic 104-115 binary header.
  *
  * The reference only magic-detects application/x-stata-dta; here the
  * header becomes metadata and the variable table becomes text: one
  * `name  label` line per variable, like our SAS/ENVI routes.
  */
object StataExtractor {

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    if (bytes.length > 11 &&
        new String(bytes, 0, 11, StandardCharsets.US_ASCII) == "<stata_dta>")
      extractModern(bytes, sink, meta)
    else if (bytes.length > 4) extractClassic(bytes, sink, meta)
  }

  /** dta 117/118/119: XML-ish tags with binary payloads. */
  private def extractModern(bytes: Array[Byte], sink: SpanSink,
      meta: MetaSink): Unit = {
    def tagBody(tag: String): Option[(Int, Int)] = {
      val open = s"<$tag>".getBytes(StandardCharsets.US_ASCII)
      val close = s"</$tag>".getBytes(StandardCharsets.US_ASCII)
      val s = indexOf(bytes, open, 0)
      if (s < 0) return None
      val e = indexOf(bytes, close, s + open.length)
      if (e < 0) None else Some((s + open.length, e))
    }
    def tagString(tag: String): Option[String] =
      tagBody(tag).map { case (s, e) =>
        new String(bytes, s, e - s, StandardCharsets.US_ASCII) }

    val release = tagString("release").getOrElse(return)
    if (!release.forall(_.isDigit)) return
    val rel = release.toInt
    val lsf = tagString("byteorder").forall(_ == "LSF")
    def leN(off: Int, n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) {
        val b = bytes(off + (if (lsf) i else n - 1 - i)) & 0xffL
        v |= b << (8 * i)
        i += 1
      }
      v
    }
    meta.set("stata:release", release)
    meta.set("stata:byteorder", if (lsf) "LSF" else "MSF")
    // K (vars): u16 for 117/118, u32 for 119; N (obs): u32 / u64
    val kWidth = if (rel >= 119) 4 else 2
    val nWidth = if (rel >= 118) 8 else 4
    val k = tagBody("K").filter(t => t._2 - t._1 >= kWidth)
      .map(t => leN(t._1, kWidth)).getOrElse(return)
    val n = tagBody("N").filter(t => t._2 - t._1 >= nWidth)
      .map(t => leN(t._1, nWidth)).getOrElse(0L)
    if (k < 0 || k > 100000) return
    meta.set("stata:variables", k.toString)
    meta.set("stata:observations", n.toString)
    // <label>: length (u8 for 117, u16 for 118+) then text
    tagBody("label").foreach { case (s, e) =>
      val lw = if (rel >= 118) 2 else 1
      if (e - s >= lw) {
        val len = leN(s, lw).toInt
        if (len > 0 && s + lw + len <= e) {
          val l = new String(bytes, s + lw, len, StandardCharsets.UTF_8)
          meta.set("dc:title", l)
          sink.chars(l); sink.newline()
        }
      }
    }
    tagBody("timestamp").foreach { case (s, e) =>
      if (e - s >= 1) {
        val len = bytes(s) & 0xff
        if (len > 0 && s + 1 + len <= e)
          meta.set("stata:timestamp",
            new String(bytes, s + 1, len, StandardCharsets.US_ASCII))
      }
    }
    // varnames: fixed slots — 33 bytes (32+NUL) for 117, 129 for 118+
    val nameW = if (rel >= 118) 129 else 33
    val labelW = if (rel >= 118) 321 else 81
    val names = tagBody("varnames").map { case (s, e) =>
      (0 until k.toInt).flatMap { i =>
        val o = s + i * nameW
        if (o + nameW <= e) Some(cstr(bytes, o, nameW)) else None
      }
    }.getOrElse(Seq.empty)
    val labels = tagBody("variable_labels").map { case (s, e) =>
      (0 until k.toInt).flatMap { i =>
        val o = s + i * labelW
        if (o + labelW <= e) Some(cstr(bytes, o, labelW)) else None
      }
    }.getOrElse(Seq.empty)
    names.zipWithIndex.foreach { case (nm, i) =>
      val lb = labels.lift(i).getOrElse("")
      meta.add("stata:variable", if (lb.nonEmpty) s"$nm: $lb" else nm)
      sink.chars(if (lb.nonEmpty) s"$nm\t$lb" else nm)
      sink.newline()
    }
  }

  /** Classic binary header (release 104-115): version u8, byteorder u8
    * (1=MSF 2=LSF), filetype u8, u8 pad, nvar u16, nobs u32,
    * 81-byte data label (32 before 108).
    */
  private def extractClassic(bytes: Array[Byte], sink: SpanSink,
      meta: MetaSink): Unit = {
    val ver = bytes(0) & 0xff
    if (ver < 0x66 || ver > 0x73) return
    val lsf = (bytes(1) & 0xff) == 2
    if (bytes.length < 110) return
    meta.set("stata:release", ver.toString)
    meta.set("stata:byteorder", if (lsf) "LSF" else "MSF")
    val nvar = if (lsf) Endian.le16(bytes, 4) else Endian.be16(bytes, 4)
    val nobs = if (lsf) Endian.le32(bytes, 6) else Endian.be32(bytes, 6)
    meta.set("stata:variables", nvar.toString)
    meta.set("stata:observations", nobs.toString)
    val labelW = if (ver >= 108) 81 else 32
    val label = cstr(bytes, 10, math.min(labelW, bytes.length - 10))
    if (label.nonEmpty) {
      meta.set("dc:title", label)
      sink.chars(label); sink.newline()
    }
  }

  private def cstr(b: Array[Byte], off: Int, max: Int): String = {
    var e = off
    val end = off + max
    while (e < end && e < b.length && b(e) != 0) e += 1
    new String(b, off, e - off, StandardCharsets.UTF_8)
  }

  private def indexOf(hay: Array[Byte], needle: Array[Byte], from: Int): Int = {
    var i = from
    val limit = hay.length - needle.length
    while (i <= limit) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }
}
