package graft.media

import graft.core.Endian

/** EXIF / TIFF IFD metadata walk.
  *
  * Reference surface: tika-parser-image-module's JpegParser/TiffParser
  * (via the metadata-extractor library) — equipment make/model,
  * software, resolution, exposure/f-number/ISO/focal length, flash,
  * capture + modification timestamps, and GPS decimal coordinates
  * (JpegParserTest.testJPEG / testJPEGGeo expectations). The walk is
  * bounds-checked against the enclosing segment so truncated or crafted
  * APP1 payloads cannot read beyond their window.
  */
object Exif {

  final case class Result(orientation: Int, tags: Map[String, String])
  val Empty: Result = Result(0, Map.empty)

  // entry value types → byte widths (TIFF 6.0 §2)
  private def typeSize(t: Int): Int = t match {
    case 1 | 2 | 6 | 7 => 1
    case 3 | 8 => 2
    case 4 | 9 | 11 => 4
    case 5 | 10 | 12 => 8
    case _ => 0
  }

  /** Parse the TIFF structure at `tiff`, reading at most `max` bytes. */
  def parse(b: Array[Byte], tiff: Int, max: Int): Result = {
    val limit = math.min(b.length, tiff + math.max(max, 0))
    if (tiff + 8 > limit) return Empty
    val le = b(tiff) == 'I'
    def u16(o: Int): Int =
      if (o + 2 > limit) 0 else if (le) Endian.le16(b, o) else Endian.be16(b, o)
    def u32(o: Int): Long =
      if (o + 4 > limit) 0L else if (le) Endian.le32(b, o) else Endian.be32(b, o)

    final case class Entry(tag: Int, tpe: Int, count: Long, at: Int)

    def entriesOf(ifdOff: Long, out: collection.mutable.Map[Int, Entry]): Unit = {
      val ifd = tiff + ifdOff.toInt
      if (ifdOff <= 0 || ifd + 2 > limit) return
      val n = math.min(u16(ifd), (limit - ifd - 2) / 12)
      var i = 0
      while (i < n) {
        val e = ifd + 2 + i * 12
        val tag = u16(e)
        val tpe = u16(e + 2)
        val count = u32(e + 4)
        val size = typeSize(tpe) * count
        val at = if (size <= 4) e + 8 else tiff + u32(e + 8).toInt
        if (size > 0 && at >= tiff && at + size <= limit)
          out(tag) = Entry(tag, tpe, count, at)
        i += 1
      }
    }

    val ifd0 = collection.mutable.Map[Int, Entry]()
    entriesOf(u32(tiff + 4), ifd0)
    // sub-IFD pointers: EXIF (0x8769) and GPS (0x8825)
    ifd0.get(0x8769).foreach(e => entriesOf(u32(e.at), ifd0))
    val gps = collection.mutable.Map[Int, Entry]()
    ifd0.get(0x8825).foreach(e => entriesOf(u32(e.at), gps))

    def ascii(e: Entry): String = {
      val n = math.min(e.count.toInt, limit - e.at)
      var end = 0
      while (end < n && b(e.at + end) != 0) end += 1
      new String(b, e.at, end, java.nio.charset.StandardCharsets.ISO_8859_1).trim
    }
    def short(e: Entry): Int =
      if (e.tpe == 3) u16(e.at) else u32(e.at).toInt
    def rational(e: Entry, idx: Int = 0): Double = {
      val o = e.at + idx * 8
      val num = u32(o); val den = u32(o + 4)
      if (den == 0) 0.0 else num.toDouble / den.toDouble
    }
    def str(e: Entry): Option[String] = e.tpe match {
      case 2 => Some(ascii(e)).filter(_.nonEmpty)
      case 3 | 4 => Some(short(e).toString)
      case 5 => Some(rational(e).toString)
      case _ => None
    }

    val tags = Map.newBuilder[String, String]
    def put(tag: Int, key: String): Unit =
      ifd0.get(tag).flatMap(str).foreach(v => tags += key -> v)

    put(0x010f, "tiff:Make")
    put(0x0110, "tiff:Model")
    put(0x0131, "tiff:Software")
    put(0x0100, "tiff:ImageWidth")
    put(0x0101, "tiff:ImageLength")
    put(0x0102, "tiff:BitsPerSample")
    put(0x011a, "tiff:XResolution")
    put(0x011b, "tiff:YResolution")
    ifd0.get(0x0128).map(short).foreach { u =>
      tags += "tiff:ResolutionUnit" -> (if (u == 3) "cm" else "Inch")
    }
    put(0xa002, "exif:ImageWidth")
    put(0xa003, "exif:ImageLength")
    put(0x829a, "exif:ExposureTime")
    put(0x829d, "exif:FNumber")
    put(0x8827, "exif:IsoSpeedRatings")
    put(0x920a, "exif:FocalLength")
    ifd0.get(0x9209).map(short).foreach { f =>
      tags += "exif:Flash" -> ((f & 1) != 0).toString
    }
    // "yyyy:MM:dd HH:mm:ss" → ISO local datetime (reference drops the
    // unknowable timezone)
    def isoDate(s: String): Option[String] = {
      val m = "(\\d{4}):(\\d{2}):(\\d{2})[ T](\\d{2}):(\\d{2}):(\\d{2})".r
        .findFirstMatchIn(s)
      m.map(g => s"${g.group(1)}-${g.group(2)}-${g.group(3)}T" +
        s"${g.group(4)}:${g.group(5)}:${g.group(6)}")
    }
    ifd0.get(0x0132).map(ascii).flatMap(isoDate)
      .foreach(v => tags += "dcterms:modified" -> v)
    ifd0.get(0x9003).map(ascii).flatMap(isoDate)
      .foreach(v => tags += "dcterms:created" -> v)

    // GPS: three rationals (deg, min, sec) signed by the ref letter
    def coord(valTag: Int, refTag: Int, negRef: String): Option[Double] =
      gps.get(valTag).filter(e => e.tpe == 5 && e.count >= 3).map { e =>
        val d = rational(e, 0) + rational(e, 1) / 60 + rational(e, 2) / 3600
        val neg = gps.get(refTag).map(ascii).exists(_.equalsIgnoreCase(negRef))
        if (neg) -d else d
      }
    coord(0x0002, 0x0001, "S").foreach(v =>
      tags += "geo:lat" -> (math.rint(v * 1e6) / 1e6).toString)
    coord(0x0004, 0x0003, "W").foreach(v =>
      tags += "geo:long" -> (math.rint(v * 1e6) / 1e6).toString)

    val orient = ifd0.get(0x0112).map(short).filter(v => v >= 1 && v <= 8)
    Result(orient.getOrElse(0), tags.result())
  }
}
