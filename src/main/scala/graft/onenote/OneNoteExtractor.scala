package graft.onenote

import scala.collection.mutable
import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian.{le16, le32, le64}

/** OneNote (.one / .onetoc2) text extraction — a from-scratch MS-ONESTORE
  * revision-store reader (public specs MS-ONESTORE / MS-ONE: 1024-byte
  * header, FileNodeList fragments, FileNode chunk references,
  * ObjectSpaceObjectPropSet property sets).
  *
  * Reference behavior mirrored (tika-parser-microsoft-module
  * onenote/OneNoteParser.java:87-180 + OneNoteTreeWalker.java:380-604):
  * text comes from RichEditTextUnicode / CachedTitleString (NUL-terminated
  * UTF-16LE, hyperlink-wrapped runs unwrapped, deduplicated by file
  * position so shared file nodes don't repeat text), TextExtendedAscii
  * (ASCII), ImageFilename; Author properties land in metadata; creation /
  * last-modified timestamps use the TIME32-since-1980 and
  * FILETIME-since-1601 epochs. Instead of the reference's
  * revision-manifest walk this reader crawls every file node reachable
  * from the root list (the reference's own `crawlAllFileNodesFromRoot`
  * mode) — the position-dedup keeps output stable across shared nodes.
  * Pre-ONESTORE and FSSHTTPB-packaged files take the reference's fallback
  * (OneNoteLegacyDumpStrings.java: printable ASCII + UTF-16LE runs ≥ 8
  * chars with ≥ 0.6 letter-ratio).
  */
object OneNoteExtractor {

  final class OneNoteMalformed(msg: String) extends RuntimeException(msg)

  private def guid(hex: String): Array[Byte] =
    hex.grouped(2).map(s => Integer.parseInt(s, 16).toByte).toArray

  // header guidFileType values (little-endian field serialization)
  private val GuidOne = guid("e4525c7b8cd8a74daeb15378d02996d3")
  private val GuidToc = guid("a12fff43d9ef764c9ee210ea5722765f")
  // guidFileFormat for the MS-ONESTORE revision store
  private val GuidOneStore = guid("3fdd9a101b91f549a5d01791edc8aed8")

  private val ListMagic = 0xa4567ab1f5f7f4c4L
  private val FooterMagic = 0x8bc215c38233ba4bL

  // MS-ONE property ids (OneNotePropertyEnum.java — public MS-ONE data)
  private val PidRichEditTextUnicode = 0x1c001c22L
  private val PidCachedTitleString = 0x1c001cf3L
  private val PidTextExtendedAscii = 0x1c003498L
  private val PidImageFilename = 0x1c001dd7L
  private val PidAuthor = 0x1c001d75L
  private val PidLastModifiedTimeStamp = 0x18001d77L
  private val PidCreationTimeStamp = 0x14001d09L
  private val PidLastModifiedTime = 0x14001d7aL

  private val DeclIds = Set(0x2dL, 0x2eL, 0xa4L, 0xa5L, 0xc4L, 0xc5L)

  private val Hyperlink =
    ("﷟HYPERLINK\\s+\"([^\"]+)\"([^\"]+)$").r

  private val Time32Epoch1980 = 315532800L  // 1970 → 1980 seconds
  private val FiletimeEpoch1601 = 11644473600L // 1601 → 1970 seconds

  def isOneNote(b: Array[Byte]): Boolean =
    b.length >= 1024 && (matches(b, 0, GuidOne) || matches(b, 0, GuidToc))

  private def matches(b: Array[Byte], off: Int, g: Array[Byte]): Boolean =
    g.indices.forall(i => b(off + i) == g(i))

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    if (!isOneNote(bytes)) throw new OneNoteMalformed("not a onenote file")
    if (!matches(bytes, 0x30, GuidOneStore)) {
      // legacy (pre-2010) or FSSHTTPB alternative packaging — the
      // reference dumps printable strings for these
      meta.set("onenote:format", "legacy-or-alternative")
      legacyDump(bytes, sink)
      return
    }
    meta.set("onenote:format", "onestore")
    new Walker(bytes, sink, meta).run()
  }

  private final class Walker(bytes: Array[Byte], sink: SpanSink, meta: MetaSink) {
    private val visitedLists = mutable.HashSet[Long]()
    private val visitedBlobs = mutable.HashSet[Long]()
    private val emittedText = mutable.HashSet[Long]()
    // Revisions duplicate whole objects at new file positions; the
    // reference suppresses old copies by walking only the latest revision
    // manifest (OneNoteTreeWalkerOptions.onlyLatestRevision, and the
    // TIKA-3970 exactly-once contract). The flat crawl approximates that
    // by emitting each distinct text run once per document.
    private val emittedStrings = mutable.HashSet[String]()
    private val authors = mutable.LinkedHashSet[String]()
    private var creation = Long.MaxValue
    private var modifiedFiletime = Long.MinValue
    private var modified32 = Long.MinValue
    private var nodeBudget = 200000 // hostile-input guard

    private def checkedInt(v: Long, what: String): Int = {
      if (v < 0 || v > bytes.length) throw new OneNoteMalformed(s"$what out of bounds")
      v.toInt
    }

    def run(): Unit = {
      val rootStp = le64(bytes, 0xac)
      val rootCb = le32(bytes, 0xb4)
      walkList(rootStp, rootCb, 0)
      authors.foreach(a => meta.add("onenote:authors", a))
      if (creation != Long.MaxValue)
        meta.set("onenote:creationTimestamp", (creation + Time32Epoch1980).toString)
      if (modifiedFiletime != Long.MinValue)
        meta.set("onenote:lastModifiedTimestamp",
          (modifiedFiletime / 10000000L - FiletimeEpoch1601).toString)
      if (modified32 != Long.MinValue)
        meta.set("onenote:lastModified", (modified32 + Time32Epoch1980).toString)
    }

    /** Walk one FileNodeList (fragment chain), recursing into child lists
      * (baseType 2) and object-declaration property sets (baseType 1).
      */
    private def walkList(stp: Long, cb: Long, depth: Int): Unit = {
      if (depth > 24 || cb < 36 || !visitedLists.add(stp)) return
      var fragStp = stp
      var fragCb = cb
      var hops = 0
      while (fragCb != 0 && fragStp != -1L && (fragStp & 0xffffffffL) != 0xffffffffL
          && hops < 10000) {
        hops += 1
        val start = checkedInt(fragStp, "fragment stp")
        val fragEnd = checkedInt(fragStp + fragCb, "fragment end")
        if (fragEnd - start < 36) return
        if (le64(bytes, start) != ListMagic)
          throw new OneNoteMalformed("bad file node list magic")
        if (le64(bytes, fragEnd - 8) != FooterMagic)
          throw new OneNoteMalformed("bad file node list footer")
        var off = start + 16
        var terminated = false
        // FileNodes occupy the space up to the trailing nextFragment
        // reference (12 bytes) + footer (8); reference loop reserves 24
        while (!terminated && off + 24 <= fragEnd) {
          nodeBudget -= 1
          if (nodeBudget < 0) throw new OneNoteMalformed("node budget exceeded")
          val header = le32(bytes, off)
          val id = header & 0x3ff
          if (id == 0 || id == 0xff) terminated = true
          else {
            val size = (header >> 10) & 0x1fff
            if (size < 4 || off + size > fragEnd)
              throw new OneNoteMalformed("file node overruns fragment")
            val stpFormat = ((header >> 23) & 0x3).toInt
            val cbFormat = ((header >> 25) & 0x3).toInt
            val baseType = ((header >> 27) & 0xf).toInt
            if (baseType == 1 || baseType == 2) {
              val (refStp, refCb) = readRef(off + 4, stpFormat, cbFormat)
              val isNil = refCb == 0
              if (!isNil && baseType == 2) walkList(refStp, refCb, depth + 1)
              else if (!isNil && baseType == 1 && DeclIds.contains(id))
                handleObject(refStp, refCb)
            }
            off += size.toInt
          }
        }
        val nextStp = le64(bytes, fragEnd - 20)
        val nextCb = le32(bytes, fragEnd - 12)
        fragStp = nextStp
        fragCb = nextCb
      }
    }

    /** Variable-width FileNodeChunkReference (MS-ONESTORE §2.4.3):
      * stpFormat 0=8B raw, 1=4B raw, 2=2B×8, 3=4B×8; cbFormat 0=4B raw,
      * 1=8B raw, 2=1B×8, 3=2B×8.
      */
    private def readRef(off: Int, stpFormat: Int, cbFormat: Int): (Long, Long) = {
      var o = off
      val stp = stpFormat match {
        case 0 => val v = le64(bytes, o); o += 8; v
        case 1 => val v = le32(bytes, o); o += 4; v
        case 2 => val v = le16(bytes, o).toLong * 8; o += 2; v
        case _ => val v = le32(bytes, o) * 8; o += 4; v
      }
      val cb = cbFormat match {
        case 0 => le32(bytes, o)
        case 1 => le64(bytes, o)
        case 2 => (bytes(o) & 0xffL) * 8
        case _ => le16(bytes, o).toLong * 8
      }
      (stp, cb)
    }

    /** Parse one ObjectSpaceObjectPropSet blob and extract its text /
      * author / timestamp properties (in property order).
      */
    private def handleObject(stp: Long, cb: Long): Unit = {
      if (!visitedBlobs.add(stp)) return
      val start = checkedInt(stp, "object stp")
      val end = checkedInt(stp + cb, "object end")
      var o = start
      def need(n: Int): Unit =
        if (o + n > end) throw new OneNoteMalformed("propset overrun")
      def streamOfIds(): Long = {
        need(4)
        val hdr = le32(bytes, o); o += 4
        val count = hdr & 0xffffff
        need(checkedInt(count * 4, "compact id run"))
        o += (count * 4).toInt
        hdr
      }
      val oidsHdr = streamOfIds()
      if (((oidsHdr >> 31) & 1) == 0) streamOfIds() // OSIDs present
      if (((oidsHdr >> 30) & 1) != 0) streamOfIds() // ContextIDs present
      parsePropertySet(o, end, 0)
    }

    /** PropertySet: cProperties, rgPrids, rgData; returns offset after. */
    private def parsePropertySet(start: Int, end: Int, depth: Int): Int = {
      if (depth > 16) throw new OneNoteMalformed("propset nesting too deep")
      var o = start
      def need(n: Long): Unit =
        if (n < 0 || o + n > end) throw new OneNoteMalformed("propset overrun")
      need(2)
      val cProps = le16(bytes, o); o += 2
      need(cProps * 4L)
      val pids = Vector.tabulate(cProps)(i => le32(bytes, o + i * 4))
      o += cProps * 4

      def value(pid: Long): Unit = {
        val tpe = ((pid >> 26) & 0x1f).toInt
        tpe match {
          case 0x1 | 0x2 => () // no data / bool-in-id
          case 0x3 => need(1); o += 1
          case 0x4 => need(2); o += 2
          case 0x5 =>
            need(4)
            val v = le32(bytes, o); o += 4
            if (pid == PidCreationTimeStamp && v < creation) creation = v
            if (pid == PidLastModifiedTime && v > modified32) modified32 = v
          case 0x6 =>
            need(8)
            val v = le64(bytes, o); o += 8
            if (pid == PidLastModifiedTimeStamp && v > modifiedFiletime)
              modifiedFiletime = v
          case 0x7 =>
            need(4)
            val len = le32(bytes, o); o += 4
            need(len)
            handleData(pid, o, len.toInt)
            o += len.toInt
          case 0x8 | 0xa | 0xc => () // one compact id from the id streams
          case 0x9 | 0xb | 0xd => need(4); o += 4 // array count, ids from streams
          case 0x10 =>
            need(8)
            val count = le32(bytes, o)
            val innerPid = le32(bytes, o + 4)
            o += 8
            if (count > 100000) throw new OneNoteMalformed("huge property array")
            // charge iterations against the shared node budget: no-data
            // inner types (0x1/0x2/0x8/0xa/0xc) otherwise spin 100k no-op
            // calls per 8-byte header — ~12500× CPU per blob byte with no
            // deadline check (advice r3)
            nodeBudget -= count.toInt
            if (nodeBudget < 0) throw new OneNoteMalformed("node budget exceeded")
            var i = 0L
            while (i < count) { value(innerPid); i += 1 }
          case 0x11 =>
            o = parsePropertySet(o, end, depth + 1)
          case other =>
            throw new OneNoteMalformed(s"invalid property type $other")
        }
      }

      pids.foreach(value)
      o
    }

    /** Type-7 (length-prefixed) property payloads. */
    private def handleData(pid: Long, off: Int, len: Int): Unit = pid match {
      case PidRichEditTextUnicode | PidCachedTitleString =>
        if (emittedText.add(off.toLong)) {
          // NUL-terminated UTF-16LE (OneNoteTreeWalker.handleRichEditTextUnicode)
          var firstNull = 0
          var i = 0
          var found = false
          while (!found && i + 1 < len) {
            if (bytes(off + i) == 0 && bytes(off + i + 1) == 0) {
              firstNull = i; found = true
            }
            i += 2
          }
          if (!found) firstNull = if (len % 2 == 0) len else len - 1
          if (firstNull > 0) {
            val txt = new String(bytes, off, firstNull,
              java.nio.charset.StandardCharsets.UTF_16LE)
            // "﷟HYPERLINK \"url\" label" runs render as their label
            val visible = Hyperlink.findFirstMatchIn(txt)
              .map(_.group(2)).getOrElse(txt)
            if (emittedStrings.add(visible)) {
              sink.chars(visible)
              sink.newline()
            }
          }
        }
      case PidTextExtendedAscii =>
        val s = new String(bytes, off, len,
          java.nio.charset.StandardCharsets.US_ASCII)
        if (emittedText.add(off.toLong) && emittedStrings.add(s)) {
          sink.chars(s)
          sink.newline()
        }
      case PidImageFilename =>
        val s = new String(bytes, off, len,
          java.nio.charset.StandardCharsets.UTF_16LE)
        if (emittedText.add(off.toLong) && emittedStrings.add(s)) {
          sink.chars(s)
          sink.newline()
        }
      case PidAuthor =>
        val s = new String(bytes, off, len,
          java.nio.charset.StandardCharsets.UTF_16LE)
        val trimmed = s.replace("\u0000", "").trim
        if (trimmed.nonEmpty) authors += trimmed
      case _ => ()
    }
  }

  /** Printable-run salvage for legacy / FSSHTTPB files, mirroring
    * OneNoteLegacyDumpStrings.java: ASCII then UTF-16LE runs of ≥ 8
    * chars whose letter-or-digit ratio is ≥ 0.6.
    */
  private def legacyDump(bytes: Array[Byte], sink: SpanSink): Unit = {
    val MinLen = 8
    val Ratio = 0.6

    def emit(s: String): Unit = {
      if (s.length >= MinLen) {
        val good = s.count(c => Character.isLetterOrDigit(c) || c == ' ')
        if (good.toDouble / s.length >= Ratio) { sink.chars(s); sink.newline() }
      }
    }

    // ASCII runs
    val sb = new StringBuilder
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      if (b >= 0x20 && b < 0x7f) sb.append(b.toChar)
      else { emit(sb.toString); sb.setLength(0) }
      i += 1
    }
    emit(sb.toString)
    sb.setLength(0)

    // UTF-16LE runs (even and odd alignment)
    var phase = 0
    while (phase < 2) {
      var j = phase
      sb.setLength(0)
      while (j + 1 < bytes.length) {
        val lo = bytes(j) & 0xff
        val hi = bytes(j + 1) & 0xff
        if (hi == 0 && lo >= 0x20 && lo < 0x7f) sb.append(lo.toChar)
        else { emit(sb.toString); sb.setLength(0) }
        j += 2
      }
      emit(sb.toString)
      phase += 1
    }
  }
}
