package graft.engine

import java.util.Base64
import graft.core._
import graft.html.HtmlExtractor
import graft.mime.{EncodingDetector, MediaTypes, MimeDb, MimeRegistry}
import graft.ole2.{Cfb, Ole2Detector, OleProps}
import graft.ooxml.DocxExtractor
import graft.pdf.PdfExtractor
import graft.textparse.MiscBinExtractor
import graft.warc.WarcExtractor
import graft.zipx.{OpcDetector, ZipUtil}
import graft.xmlx.NsSax

/** Per-document detect→dispatch→parse→spans function — the reference's
  * `AutoDetectParser.parse` (tika-core parser/AutoDetectParser.java:147-232)
  * + `RecursiveParserWrapper` (parser/RecursiveParserWrapper.java:129-303)
  * re-expressed as one pure function over row bytes.
  *
  * Dispatch is `CompositeParser`'s type → parser map
  * (parser/CompositeParser.java:102-110): one exact lookup in `Routes`,
  * then the prefix families in `PrefixRoutes`, then the supertype walk
  * (:245-268).
  *
  * Container recursion carries ordinal `embeddedIdPath`s ("/1", "/1/2",
  * 1-indexed — RecursiveParserWrapper.java:239-244); the char budget and
  * zip-bomb guard are global across the embedded tree (:319-340).
  * Stateless and thread-safe, like the reference parser contract
  * (parser/Parser.java class javadoc) — one instance per partition.
  */
object Extractor {

  final case class Config(
      maxDepth: Int = 10,              // ParsingEmbeddedDocumentExtractor depth cap
      maxEmbedded: Int = 100,          // maxEmbeddedResources
      writeLimit: Int = 100000,        // BodyContentHandler default :83-92
      softDeadlineMs: Long = 60000L,   // PipesServer per-task timeout analog
      // opt-in like the reference's StringsParser (requires explicit
      // config there): printable-run extraction for types nothing parses
      stringsFallback: Boolean = false,
      // opt-in like OfficeParserConfig.setExtractMacros (default false
      // in the reference): VBA module sources become embedded docs
      extractMacros: Boolean = false,
      // PasswordProvider analog: decryption password for protected
      // containers (PDF user/owner, OOXML standard/agile, RAR3 -p/-hp).
      // None = default attempts only (empty PDF password,
      // VelvetSweatshop for OOXML), exactly the reference's no-provider
      // behavior.
      password: Option[String] = None,
      // PDFParserConfig.setExtractMarkedContent analog (default false):
      // tagged PDFs extract in structure-tree logical order
      extractMarkedContent: Boolean = false,
      // RegexCaptureParser analog: when either map is non-empty it IS
      // the text/plain parser — key -> pattern; captures collect group
      // 1 per line (deduped, multi-valued metadata), matches set the
      // key to "true"; content only with regexWriteContent (reference
      // default false)
      regexCaptures: Seq[(String, String)] = Nil,
      regexMatches: Seq[(String, String)] = Nil,
      regexWriteContent: Boolean = false
  )
  val DefaultConfig: Config = Config()

  private val MediaExt: Map[String, String] = Map(
    MediaTypes.Jpeg -> "jpg", MediaTypes.Tiff -> "tif", MediaTypes.Mp3 -> "mp3",
    MediaTypes.Wav -> "wav", MediaTypes.Ogg -> "ogg", MediaTypes.Mp4 -> "mp4",
    MediaTypes.Avi -> "avi", MediaTypes.Matroska -> "mkv", MediaTypes.Webp -> "webp",
    MediaTypes.Png -> "png", MediaTypes.Gif -> "gif", MediaTypes.Bmp -> "bmp")

  /** Input kinds whose `text` is base64-encoded raw bytes. */
  private val BinaryKinds =
    Set("docx", "pdf", "zip", "junk", "bytes", "gzip", "png", "jpeg", "gif", "text")

  /** zlib-wrapped DEFLATE with an output budget (CompressorParser's
    * "deflate" route).
    */
  private def inflateZlib(b: Array[Byte]): Array[Byte] = {
    val out = new OutBuf(OutBuf.MaxBytes, math.min(b.length * 4, 1 << 20))
    val end = out.inflate(b, 0, b.length, raw = false)
    if (end == OutBuf.Capped) throw new ZipBombDetected
    if (end == OutBuf.NeedsDict || end == OutBuf.NeedsInput && out.len == 0)
      throw new IllegalArgumentException("zlib stall")
    out.result
  }

  /** Raw .lzma file: props byte, u32 dict size, u64 uncompressed size,
    * LZMA1 stream (the XZ-for-Java LZMAInputStream surface). Unknown
    * (-1) sizes and over-budget declarations are rejected — the
    * testLZMA_oom-style crafted headers must fail, not allocate.
    */
  private def decodeLzmaFile(b: Array[Byte]): Array[Byte] = {
    if (b.length < 14) throw new IllegalArgumentException("truncated lzma")
    val size = Endian.le64(b, 5)
    if (size < 0 || size > OutBuf.MaxBytes)
      throw new IllegalArgumentException(s"lzma size $size out of budget")
    graft.pkgx.Lzma2.decodeLzma1(b(0) & 0xff, b, 13, b.length - 13, size.toInt)
  }

  /** Codec wrappers — CompressorParser analog (pkg/CompressorStreamFactory
    * routes): decode, then re-detect the inner payload, so
    * .tar.{gz,bz2,xz,lz4,zst,Z} recurse exactly like .tar.gz. Brotli has
    * no magic — name-detected, like the reference's BROTLI entry.
    * `Unpack` walks a subset of these.
    */
  val Codecs: Map[String, Array[Byte] => Array[Byte]] = Map(
    MediaTypes.Gzip -> ZipUtil.gunzip _,
    MimeDb.Zlib -> inflateZlib _,
    MimeDb.SnappyFramed -> graft.pkgx.Snappy.decompressFramed _,
    MimeDb.Lzma -> decodeLzmaFile _,
    MimeDb.Brotli -> graft.pkgx.Brotli.decompress _,
    MimeDb.Bzip2 -> graft.pkgx.Bzip2.decompress _,
    MimeDb.Xz -> graft.pkgx.Xz.decompress _,
    MimeDb.Lz4 -> graft.pkgx.Lz4.decompress _,
    MimeDb.Zstd -> graft.pkgx.Zstd.decompress _,
    MimeDb.UnixCompress -> graft.pkgx.Lzw.decompress _)

  /** Archive members as (name, bytes) in archive order, given the
    * payload and the configured password. */
  type Entries = (Array[Byte], Option[String]) => IndexedSeq[(String, Array[Byte])]

  /** Named-member archives — PackageParser.parseEntry
    * (pkg/PackageParser.java:164-193): each member becomes an embedded
    * doc named by its header. .deb is an ar of control/data tarballs and
    * recurses all the way down through the codecs. Encrypted 7z decrypts
    * with the supplied password (the PasswordProvider route) or throws →
    * recorded parse exception, like the reference's
    * EncryptedDocumentException. Cabinet is beyond reference parity (the
    * reference only detects it); QUANTUM/LZX folders throw → recorded
    * parse exception. `Unpack` walks a subset of these.
    */
  val ArchiveEntries: Map[String, Entries] = {
    val tar: Entries = (b, _) => graft.pkgx.TarUtil.entries(b).map(e => (e.name, e.data))
    val ar: Entries = (b, _) => graft.pkgx.ArCpio.arEntries(b).map(e => (e.name, e.data))
    val cpio: Entries = (b, _) => graft.pkgx.ArCpio.cpioEntries(b).map(e => (e.name, e.data))
    val sevenZ: Entries = (b, pw) =>
      graft.pkgx.SevenZ.entries(b, password = pw).map(e => (e.name, e.data))
    val cab: Entries = (b, _) => graft.pkgx.Cab.entries(b).map(e => (e.name, e.data))
    Map(MimeDb.Tar -> tar, MimeDb.Gtar -> tar, MimeDb.Ar -> ar, MimeDb.Deb -> ar,
      MimeDb.Cpio -> cpio, MimeDb.SevenZ -> sevenZ, MimeDb.Cab -> cab)
  }

  def payloadBytes(s: Span): Array[Byte] =
    if (s.text == null || s.text.isEmpty) Array.emptyByteArray
    else if (BinaryKinds.contains(s.kind))
      try Base64.getDecoder.decode(s.text)
      catch { case _: IllegalArgumentException =>
        s.text.getBytes(java.nio.charset.StandardCharsets.UTF_8) }
    else s.text.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Content detection plus container specialization, which needs the
    * full bytes (OPCPackageDetector, POIFSContainerDetector). */
  private def detect(bytes: Array[Byte], nameHint: Option[String]): String = {
    val mime0 = MimeRegistry.detect(bytes, nameHint)
    if (mime0 == MediaTypes.Zip || mime0 == MediaTypes.TikaOoxml)
      try OpcDetector.specialize(bytes, nameHint)
      catch { case _: Exception => mime0 }
    else if (mime0 == MediaTypes.TikaMsOffice)
      try Ole2Detector.specialize(bytes)
      catch { case _: Exception => mime0 }
    else if (bytes.length >= 8 && (bytes(0) & 0xff) == 0xd0 &&
        (bytes(1) & 0xff) == 0xcf && (bytes(2) & 0xff) == 0x11 &&
        (bytes(3) & 0xff) == 0xe0) {
      // a name hint (.doc/.xls/...) specialized the generic CFB type,
      // but POIFSContainerDetector's checkEncrypted runs on EVERY
      // OLE2 container and outranks it (TIKA-3666: DRM dataspaces
      // inside a shell that still carries a WordDocument stream)
      val byDir =
        try Ole2Detector.specialize(bytes)
        catch { case _: Exception => mime0 }
      if (byDir == Ole2Detector.OoxmlProtected ||
          byDir == Ole2Detector.DrmEncrypted) byDir
      else mime0
    } else mime0
  }

  /** One payload being parsed: its bytes, ordinal id path ("" at the
    * root), name hint, nesting depth, detected type, and the metadata
    * view scoped to its path (RecursiveParserWrapper-style per-document
    * metadata).
    */
  private final class Node(val bytes: Array[Byte], val idPath: String,
      val nameHint: Option[String], val depth: Int, val mime: String,
      val meta: MetaSink) {
    def at: String = if (idPath.isEmpty) "/" else idPath
  }

  /** A container member awaiting its ordinal: payload, name hint, and
    * `onPop`, which records per-child metadata once the path is known. */
  private final case class Member(data: Array[Byte], name: Option[String],
      onPop: String => Unit)

  private val NoMeta: String => Unit = _ => ()

  /** A member recorded as `embedded:path` = "<path>:<name>". */
  private def member(n: Node, name: String, data: Array[Byte]): Member =
    Member(data, Some(name), p => n.meta.add("embedded:path", s"$p:$name"))

  // ---- explicit embedded-doc frame stack ---------------------------------
  // Container recursion (zip/tar/warc/mbox/gzip/bzip2/xz/lz4/zstd chains —
  // the unbounded-nesting inputs) runs over this heap stack, NOT the JVM
  // stack: a node's children are pushed as NodeFrames and popped LIFO, so
  // the traversal order (and therefore every span, ordinal id path and
  // meta record) is byte-identical to direct recursion while stack depth
  // stays O(1) JVM frames regardless of nesting. Only the mid-parse
  // callback parsers (HTML data-URIs, PDF attachments, EML parts) still
  // parse children inline — their content must land at the emission point
  // inside the parent's own span stream — and those are hard-capped by
  // cfg.maxDepth bounded parser frames.
  private sealed trait Frame
  /** A child payload awaiting its ordinal; the ordinal is assigned when
    * the frame is POPPED (not scheduled) so id-path numbering matches the
    * recursive traversal exactly. `onDrop` applies the branch's
    * budget-exhaustion policy (silent for zip, recorded for the other
    * archives and codecs, counted for mbox).
    */
  private final case class NodeFrame(m: Member, parentPath: String, depth: Int,
      onDrop: () => Unit) extends Frame
  private final case class CloseFrame(path: String) extends Frame
  /** Runs after every frame a branch scheduled has completed (mbox's
    * dropped-count summary). */
  private final case class AfterFrame(run: () => Unit) extends Frame

  /** Per-document traversal state: the sinks, the frame stack, the
    * embedded budget and the status flags. One per `extract` call. */
  private final class Walk(val cfg: Config, val sink: SpanSink) {
    val meta = new MetaSink
    var embeddedCount = 0
    var sawException = false
    var sawUnsupported = false
    var bomb = false
    var topMime: String = null
    val flagUnsupported: () => Unit = () => sawUnsupported = true
    private val stack = new java.util.ArrayDeque[Frame]

    def exception(n: Node, what: String): Unit = {
      sawException = true
      n.meta.add("parse:exception", s"$what at ${n.at}")
    }

    def push(n: Node, m: Member, onDrop: () => Unit): Unit =
      stack.push(NodeFrame(m, n.idPath, n.depth + 1, onDrop))

    /** Schedules `entries` as children of `n` in archive order; each
      * member is built at push time, last entry first, exactly like the
      * recursive traversal. */
    def schedule[E](n: Node, entries: IndexedSeq[E], onDrop: () => Unit)(
        m: E => Member): Unit =
      entries.reverseIterator.foreach(e => push(n, m(e), onDrop))

    def after(run: () => Unit): Unit = stack.push(AfterFrame(run))

    private def popOne(f: Frame): Unit = f match {
      case CloseFrame(p) => sink.embeddedClose(p)
      case AfterFrame(run) => run()
      case NodeFrame(m, parentPath, depth, onDrop) =>
        if (embeddedCount < cfg.maxEmbedded) {
          embeddedCount += 1
          val childPath = s"$parentPath/$embeddedCount"
          m.onPop(childPath)
          sink.embeddedOpen(childPath)
          stack.push(CloseFrame(childPath))
          parseNode(m.data, childPath, m.name, depth)
        } else onDrop()
    }

    /** Drain until the stack is back to `mark` frames (0 = fully drained). */
    def drain(mark: Int): Unit =
      while (stack.size > mark) popOne(stack.pop())

    /** Inline child parse for the mid-parse callbacks (HTML/PDF/EML): the
      * child (and its whole deferred subtree) completes before the parent
      * parser resumes, so embedded content lands at its source position.
      */
    def inlineChild(n: Node)(name: Option[String], data: Array[Byte]): Unit =
      if (embeddedCount < cfg.maxEmbedded && n.depth < cfg.maxDepth) {
        embeddedCount += 1
        val childPath = s"${n.idPath}/$embeddedCount"
        name.foreach(nm => meta.add("embedded:path", s"$childPath:$nm"))
        sink.embeddedOpen(childPath)
        val mark = stack.size
        parseNode(data, childPath, name, n.depth + 1)
        drain(mark)
        sink.embeddedClose(childPath)
      }

    def child(n: Node): (Option[String], Array[Byte]) => Unit = inlineChild(n)
    def named(n: Node): (String, Array[Byte]) => Unit =
      (name, data) => inlineChild(n)(Some(name), data)

    /** Parse of one payload; per-node failures are recorded and the parse
      * continues (CompositeParser.java:323-352 hoists embedded exceptions
      * instead of failing the container). Container children are scheduled
      * on the frame stack, not recursed.
      */
    def parseNode(bytes: Array[Byte], idPath: String, nameHint: Option[String],
        depth: Int): Unit = {
      // embedded nodes write document-level metadata under their own path
      // (per-document metadata, RecursiveParserWrapper-style)
      val nodeMeta = if (idPath.isEmpty) meta else meta.scoped(idPath)
      if (bytes.isEmpty) {
        // a zero-byte payload is a legitimate empty document (the
        // reference's EmptyParser yields no content and no exception;
        // RecursiveParserWrapper still records the embedded resource,
        // typed by its name glob when the empty stream is named)
        if (idPath.nonEmpty)
          nodeMeta.add("embedded:" + idPath, nameHint
            .flatMap(MimeRegistry.fromName)
            .getOrElse(MediaTypes.OctetStream))
        return
      }
      val mime = detect(bytes, nameHint)
      if (idPath.isEmpty) { if (topMime == null) topMime = mime }
      else nodeMeta.add("embedded:" + idPath, mime)
      val n = new Node(bytes, idPath, nameHint, depth, mime, nodeMeta)
      try {
        route(mime)(this, n)
        if (cfg.extractMacros) macros(n)
      } catch {
        case _: WriteLimitReached => throw new WriteLimitReached
        case t: DocTimeout => throw t
        case _: ZipBombDetected => bomb = true
        case _: StackOverflowError =>
          // embedded-doc recursion itself can no longer overflow (it runs
          // on the explicit frame stack above); this guards PARSER-INTERNAL
          // recursion on hostile payloads (e.g. pathologically nested
          // markup), which must fail the DOCUMENT, not the executor task
          exception(n, s"$mime stack overflow")
        case _: Exception => exception(n, mime)
      }
    }

    /** VBA macro pass (OfficeParser.extractMacros, opt-in like
      * OfficeParserConfig.setExtractMacros): any CFB node with a VBA
      * project, or an OOXML package's vbaProject.bin part, emits one
      * text/x-vbasic child per module.
      */
    private def macros(n: Node): Unit =
      try {
        val bytes = n.bytes
        val vbaCfb: Option[Array[Byte]] =
          if (Cfb.isCfb(bytes)) Some(bytes)
          else if (bytes.length > 4 && bytes(0) == 'P' && bytes(1) == 'K')
            ZipUtil.entryNames(bytes).find(_.endsWith("vbaProject.bin"))
              .flatMap(nm => ZipUtil.entry(bytes, nm))
          else None
        vbaCfb.foreach { cb =>
          graft.ole2.VbaMacros.readMacros(Cfb.parse(cb)).foreach { m =>
            meta.add("embedded:macro", m.name)
            inlineChild(n)(Some(m.name + ".vba"),
              m.source.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
      } catch { case _: Exception => () }

    /** Zip member recursion (ZipParser); `bytes` may be a slice of the
      * node's payload (DWF). Past-budget entries are skipped silently,
      * like ZipParser; the depth cap is recorded. */
    def zip(n: Node, bytes: Array[Byte]): Unit = {
      if (n.depth >= cfg.maxDepth) { sawUnsupported = true; return }
      val w =
        try ZipUtil.walk(bytes, cfg.password)
        catch {
          case _: ZipBombDetected => bomb = true; return
          case _: Exception => exception(n, "zip read"); return
        }
      // entries that stayed encrypted (no/wrong password) surface as
      // per-stream exceptions, like the reference's embedded
      // EncryptedDocumentException (ZipParserTest.testZipEncrypted) —
      // the rest of the archive still extracts below
      w.encrypted.foreach { nm =>
        sawException = true
        n.meta.add("parse:exception",
          s"EncryptedDocumentException: stream ($nm) is encrypted")
      }
      schedule(n, w.entries, () => ())(e => member(n, e.name, e.data))
    }
  }

  // ---- routes ------------------------------------------------------------

  private type Route = (Walk, Node) => Unit

  private def on(keys: String*)(r: Route): Seq[(String, Route)] = keys.map(_ -> r)

  /** A parser that needs no children. */
  private def leaf(f: (Array[Byte], SpanSink, MetaSink) => Unit): Route =
    (w, n) => f(n.bytes, w.sink, n.meta)

  /** Summary properties of a CFB container, no body text. */
  private val oleProps: Route = (_, n) => OleProps.fromCfb(Cfb.parse(n.bytes), n.meta)

  /** Container route: members become embedded children in archive
    * order. Archives check depth only; the embedded budget applies at
    * pop time. A depth-capped archive, and every member dropped past the
    * budget, is RECORDED — a capped archive must not read as a clean
    * empty success.
    */
  private def archive[E](entries: (Walk, Node) => IndexedSeq[E])(
      m: (Node, E) => Member): Route = (w, n) =>
    if (n.depth >= w.cfg.maxDepth) w.sawUnsupported = true
    else w.schedule(n, entries(w, n), w.flagUnsupported)(m(n, _))

  private def namedArchive(entries: Entries): Route =
    archive((w, n) => entries(n.bytes, w.cfg.password)) {
      case (n, (name, data)) => member(n, name, data)
    }

  /** Single-payload wrapper route (codecs, AppleSingle): unwrap and
    * re-detect. Unlike archives it also checks the embedded budget up
    * front; the frame pops immediately after this node returns (nothing
    * else is scheduled in between), so the budget just checked still
    * holds at pop time.
    */
  private def wrapper(inner: Node => Member): Route = (w, n) =>
    if (n.depth >= w.cfg.maxDepth || w.embeddedCount >= w.cfg.maxEmbedded)
      w.sawUnsupported = true
    else w.push(n, inner(n), w.flagUnsupported)

  private def codec(decode: Array[Byte] => Array[Byte]): Route =
    wrapper(n => Member(decode(n.bytes), None, NoMeta))

  /** Strips an HTTP response head, if any, from a web-archive record. */
  private[engine] def httpPayload(body: Array[Byte],
      head: Option[WarcExtractor.HttpHead]): Array[Byte] = head match {
    case Some(h) => java.util.Arrays.copyOfRange(body, h.payloadOffset, body.length)
    case None => body
  }

  /** Last path segment of a record URL as a name hint. */
  private def urlName(url: String): Option[String] =
    Some(url.substring(url.lastIndexOf('/') + 1)).filter(_.nonEmpty)

  private val RouteList: Seq[(String, Route)] = Seq(
    on(MediaTypes.Html) { (w, n) =>
      HtmlExtractor.extract(EncodingDetector.decode(n.bytes), w.sink, n.meta,
        w.child(n))
    },
    on(MediaTypes.AtomXml, MediaTypes.RssXml)(leaf(graft.xmlx.FeedExtractor.extract)),
    on(MediaTypes.Xml, MediaTypes.SvgXml)(leaf(XmlExtractor.extract)),
    on(MediaTypes.TextPlain) { (w, n) =>
      val text = EncodingDetector.decode(n.bytes)
      if (w.cfg.regexCaptures.nonEmpty || w.cfg.regexMatches.nonEmpty)
        // configured RegexCaptureParser replaces the text parser
        graft.textparse.RegexCapture.extract(text, w.cfg.regexCaptures,
          w.cfg.regexMatches, w.cfg.regexWriteContent, w.sink, n.meta)
      else
        // TextAndCSVParser semantics: sniff a consistent delimiter →
        // table markup; otherwise TXTParser.java:75-121 — charset
        // decode, one <p> of raw chars
        graft.textparse.CsvExtractor.sniff(text) match {
          case Some(d) =>
            if (n.idPath.isEmpty && w.topMime == MediaTypes.TextPlain)
              w.topMime = MediaTypes.Csv
            graft.textparse.CsvExtractor.extract(text, d, w.sink, n.meta)
          case None =>
            w.sink.chars(text)
            w.sink.newline()
        }
    },
    on(MediaTypes.Pdf) { (w, n) =>
      PdfExtractor.extract(n.bytes, w.sink, n.meta, w.child(n),
        w.cfg.password, w.cfg.extractMarkedContent)
    },
    on(MediaTypes.Docx)((w, n) => DocxExtractor.extract(n.bytes, w.sink, n.meta, w.named(n))),
    on(MediaTypes.Xlsx) { (w, n) =>
      graft.ooxml.XlsxExtractor.extract(n.bytes, w.sink, n.meta, w.named(n))
    },
    on(MediaTypes.Xlsb)(leaf(graft.ooxml.XlsbExtractor.extract)),
    on(MediaTypes.Pptx) { (w, n) =>
      graft.ooxml.PptxExtractor.extract(n.bytes, w.sink, n.meta, w.named(n))
    },
    on(MediaTypes.Xps) { (w, n) =>
      graft.ooxml.XpsExtractor.extract(n.bytes, w.sink, n.meta, w.named(n))
    },
    on(graft.xmlx.MsXml2003Extractor.WordMl)(
      leaf(graft.xmlx.MsXml2003Extractor.extractWordMl)),
    on(graft.xmlx.MsXml2003Extractor.SpreadsheetMl)(
      leaf(graft.xmlx.MsXml2003Extractor.extractSpreadsheetMl)),
    // recognized OPC container without a known core document
    on(MediaTypes.TikaOoxml)((w, _) => w.sawUnsupported = true),
    on(MediaTypes.Rtf) { (w, n) =>
      graft.textparse.RtfExtractor.extract(n.bytes, w.sink, n.meta, w.named(n))
    },
    // reached via the .md name-hint glob (no magic exists);
    // reference analog: tika text-module MarkdownParser
    on(MimeDb.Markdown)(leaf(graft.textparse.MarkdownExtractor.extract)),
    // the reference's SourceCodeParser types (code-module) —
    // verbatim code lines + LoC/@author metadata + from-scratch
    // lexer token-class counts; other source types (.c/.py/...)
    // keep landing on the text parser like the reference's
    // supertype fallback
    on("text/x-java-source", "text/x-groovy", "text/x-c++src") { (w, n) =>
      graft.textparse.SourceCodeExtractor.extract(n.bytes, w.sink, n.meta, n.mime)
    },
    // IPTC 7901 / ANPA-1312 newswire (news-module IptcAnpaParser)
    on(MimeDb.Anpa)(leaf(graft.textparse.IptcAnpaExtractor.extract)),
    // round-5 detect-only formats gaining native readers — the
    // reference detects each of these without a parser; text /
    // metadata extraction is beyond-reference, like Cab/Hfs
    on(MimeDb.Marc)(leaf(graft.textparse.MarcExtractor.extract)),
    on(MimeDb.MsWrite)(leaf(graft.textparse.WriExtractor.extract)),
    on(MimeDb.StataDta)(leaf(graft.sci.StataExtractor.extract)),
    on(MimeDb.HprofBin)(leaf(MiscBinExtractor.extractHprof)),
    on(MimeDb.Jks)(leaf(MiscBinExtractor.extractJks)),
    on("model/x.stl-binary")(leaf(MiscBinExtractor.extractStl)),
    on(MimeDb.PostScript)(leaf(MiscBinExtractor.extractPostScript)),
    on("application/x-x509-ca-cert")(leaf(graft.crypto.DerKeyExtractor.extract)),
    // each member message becomes an embedded rfc822 doc; members
    // past the resource budget are counted in mbox:dropped and
    // mark the status (ParseSuccessWithException)
    on(MediaTypes.Mbox) { (w, n) =>
      val msgs = graft.mail.EmlExtractor.splitMbox(n.bytes)
      if (n.depth >= w.cfg.maxDepth) {
        if (msgs.nonEmpty) {
          n.meta.set("mbox:dropped", msgs.size.toString)
          w.sawUnsupported = true
        }
      } else {
        var dropped = 0
        w.after { () =>
          if (dropped > 0) {
            n.meta.set("mbox:dropped", dropped.toString)
            w.sawUnsupported = true
          }
        }
        w.schedule(n, msgs.zipWithIndex, () => dropped += 1) { case (msg, idx) =>
          Member(msg, Some("message.eml"),
            p => n.meta.add("embedded:path", s"$p:message-${idx + 1}.eml"))
        }
      }
    },
    on(MediaTypes.Eml) { (w, n) =>
      graft.mail.EmlExtractor.extract(n.bytes, w.sink, n.meta, w.child(n))
    },
    on(MediaTypes.Odt, MediaTypes.Ods, MediaTypes.Odp) { (w, n) =>
      graft.odf.OdtExtractor.extract(n.bytes, w.sink, n.meta, w.named(n),
        w.cfg.extractMacros)
    },
    on(MimeDb.Word2006Ml) { (w, n) =>
      graft.xmlx.Word2006MlExtractor.extract(n.bytes, w.sink, n.meta, w.named(n))
    },
    on(MimeDb.FlatOd, MimeDb.FlatOdt, MimeDb.FlatOds, MimeDb.FlatOdp) { (w, n) =>
      graft.odf.OdtExtractor.extractFlat(n.bytes, w.sink, n.meta, w.named(n),
        w.cfg.extractMacros)
    },
    // OPF metadata + spine-ordered content into the parent,
    // resources as children (EpubParser/OPFParser semantics);
    // packages without an OPF fall back to zip recursion
    on(MediaTypes.Epub) { (w, n) =>
      val handled =
        try graft.zipx.EpubExtractor.extract(n.bytes, w.sink, n.meta, w.named(n))
        catch { case _: Exception => false }
      if (!handled) w.zip(n, n.bytes)
    },
    on(MediaTypes.Zip)((w, n) => w.zip(n, n.bytes)),
    on(MimeDb.Tar, MimeDb.Gtar)(namedArchive(ArchiveEntries(MimeDb.Tar))),
    on(MimeDb.Ar, MimeDb.Deb)(namedArchive(ArchiveEntries(MimeDb.Ar))),
    on(MimeDb.Cpio)(namedArchive(ArchiveEntries(MimeDb.Cpio))),
    // PackageParser dump dispatch (commons-compress
    // DumpArchiveInputStream): every regular-file inode is an
    // embedded doc named by its dirent-resolved path
    on(MimeDb.UnixDump)(archive { (_, n) =>
      val s = graft.pkgx.DumpArchive.summary(n.bytes)
      if (s.label.nonEmpty) n.meta.set("dump:label", s.label)
      if (s.hostname.nonEmpty) n.meta.set("dump:hostname", s.hostname)
      if (s.filesystem.nonEmpty) n.meta.set("dump:filesystem", s.filesystem)
      graft.pkgx.DumpArchive.entries(n.bytes)
    }((n, e) => member(n, e.name, e.data))),
    on(MimeDb.SevenZ)(namedArchive(ArchiveEntries(MimeDb.SevenZ))),
    on(MimeDb.Cab)(namedArchive(ArchiveEntries(MimeDb.Cab))),
    // raw HFS+/HFSX Apple disk images — beyond reference parity
    // (the reference only glob-detects .dmg); catalog files
    // recurse with their full volume paths, UDIF-wrapped images
    // throw inside Hfs.entries → recorded parse exception
    on(MimeDb.Dmg)(archive { (w, n) =>
      if (graft.pkgx.Hfs.isHfs(n.bytes)) graft.pkgx.Hfs.entries(n.bytes)
      else { w.sawUnsupported = true; Vector.empty }
    }((n, e) => member(n, e.name, e.data))),
    // ARJ: stored entries recurse; compressed entries recorded
    // unsupported — exact commons-compress ArjArchiveInputStream
    // capability, which is what the reference dispatches to
    on(MimeDb.Arj) { (w, n) =>
      val es = graft.pkgx.Arj.entries(n.bytes)
      es.foreach(e => n.meta.add("arj:entry", s"${e.name}:${e.originalSize}"))
      if (es.exists(_.data.isEmpty)) w.sawUnsupported = true
      val stored = es.filter(_.data.isDefined)
      if (n.depth < w.cfg.maxDepth)
        w.schedule(n, stored, w.flagUnsupported)(e => member(n, e.name, e.data.get))
      else if (stored.nonEmpty)
        w.sawUnsupported = true // depth cap drops children, like zip
    },
    // RAR container walk (RarUtil): entry names/sizes always
    // surface as metadata; STORED entries recurse; compressed
    // entries are recorded unsupported (the RAR compression
    // algorithm is a declared license exclusion — the reference
    // uses junrar here)
    on(MimeDb.Rar) { (w, n) =>
      val ar = graft.pkgx.RarUtil.parse(n.bytes, w.cfg.password)
      // no (or wrong) password: the reference throws
      // EncryptedDocumentException here; with a good password the
      // decrypted entries recurse below (exceeds the reference)
      if (ar.headersEncrypted && ar.entries.isEmpty)
        w.exception(n, "rar encrypted headers")
      ar.entries.foreach(e => n.meta.add("rar:entry", s"${e.name}:${e.unpSize}"))
      if (ar.entries.exists(e => e.stored.isEmpty)) w.sawUnsupported = true
      val stored = ar.entries.filter(_.stored.isDefined)
      if (n.depth < w.cfg.maxDepth)
        w.schedule(n, stored, w.flagUnsupported)(e => member(n, e.name, e.stored.get))
      else if (stored.nonEmpty)
        w.sawUnsupported = true // depth cap drops children, like zip
    },
    // CMS/PKCS#7: unwrap the signed / timestamped / compressed
    // payload and recurse it (crypto-module Pkcs7Parser/TSDParser
    // behavior); enveloped/digested/encrypted are labelled with
    // their smime-type and yield an empty document (no throw),
    // detached signatures yield metadata only
    on(MimeDb.Pkcs7Mime, MimeDb.Pkcs7Sig, MimeDb.Tsd) { (w, n) =>
      val un = graft.crypto.Pkcs7Extractor.unwrap(n.bytes)
      if (un.contentType != null) n.meta.set("cms:content-type", un.contentType)
      if (un.smimeType != null) n.meta.set("cms:smime-type", un.smimeType)
      if (un.truncated) {
        // bomb cap clipped the inflated payload: keep the prefix
        // but mark the document (Pkcs7Parser truncation warning)
        n.meta.set("cms:truncated", "true")
        w.sawUnsupported = true
      }
      if (un.content.isEmpty) {
        if (un.contentType != null &&
            (un.smimeType == null || un.smimeType == "certs-only"))
          n.meta.set("cms:detached", "true")
      }
      else if (n.depth < w.cfg.maxDepth)
        w.push(n, Member(un.content, None, NoMeta), w.flagUnsupported)
      else w.sawUnsupported = true
    },
    // a raw captured HTTP response: record the head as metadata,
    // recurse the body through re-detection (the supertype walk
    // would otherwise dump headers as document text)
    on(MimeDb.HttpResponse) { (w, n) =>
      WarcExtractor.parseHttpHead(n.bytes) match {
        case Some(h) if n.depth < w.cfg.maxDepth =>
          n.meta.add("http:status", h.status.toString)
          h.headers.foreach { case (k, v) => n.meta.add(s"http:$k", v) }
          val body = httpPayload(n.bytes, Some(h))
          if (body.nonEmpty) w.push(n, Member(body, None, NoMeta), w.flagUnsupported)
        case _ =>
          w.sink.chars(EncodingDetector.decode(n.bytes))
          w.sink.newline()
      }
    },
    // pre-WARC web archives: each record is an embedded doc with
    // arc: metadata; HTTP heads are stripped like the warc branch
    on(MimeDb.ArcArchive)(archive((_, n) =>
        graft.warc.ArcExtractor.records(n.bytes).filter(_.body.nonEmpty)) {
      (n, rec) =>
        val head = WarcExtractor.parseHttpHead(rec.body)
        Member(httpPayload(rec.body, head), urlName(rec.url), { p =>
          n.meta.add("embedded:path", s"$p:${rec.url}")
          n.meta.add(s"arc:$p:date", rec.date)
          n.meta.add(s"arc:$p:mime", rec.mime)
          head.foreach(h => n.meta.add(s"arc:$p:status", h.status.toString))
        })
    }),
    // WARCParser.java:57 semantics: each `response` record is an
    // embedded document carrying its WARC headers (warc:) and
    // HTTP response head (warc:http:, warc:http:status) as
    // metadata, keyed by the ordinal id path; warcinfo and other
    // record types are skipped. .warc.gz reaches here via the
    // gzip codec's inner re-detect.
    on(MimeDb.Warc)(archive((_, n) => WarcExtractor.records(n.bytes)
        .filter(r => r.warcType == "response" && r.body.nonEmpty)) { (n, rec) =>
      val uri = rec.targetUri.getOrElse("")
      val head =
        if (rec.header("Content-Type").exists(_.startsWith("application/http")))
          WarcExtractor.parseHttpHead(rec.body)
        else None
      Member(httpPayload(rec.body, head), Some(uri).filter(_.nonEmpty).flatMap(urlName), { p =>
        if (uri.nonEmpty) n.meta.add("embedded:path", s"$p:$uri")
        rec.headers.foreach { case (k, v) => n.meta.add(s"warc:$p:$k", v) }
        head.foreach { h =>
          n.meta.add(s"warc:http:$p:status", h.status.toString)
          if (h.reason.nonEmpty) n.meta.add(s"warc:http:$p:status:reason", h.reason)
          h.headers.foreach { case (k, v) => n.meta.add(s"warc:http:$p:$k", v) }
        }
      })
    }),
    // AppleSingle wrapper: the data fork is the real document
    // (apple/AppleSingleFileParser.java) — unwrap + re-detect
    on(MimeDb.AppleSingle)(wrapper { n =>
      val (name, fork) = graft.textparse.AppleSingle.unwrap(n.bytes)
      Member(fork, name, p => name.foreach(nm => n.meta.add("embedded:path", s"$p:$nm")))
    }),
    Codecs.toSeq.flatMap { case (m, decode) => on(m)(codec(decode)) },
    // image/audio/video payloads: metadata-only extraction, like
    // the reference's JpegParser/Mp3Parser/MP4Parser (SURVEY
    // §2.7) — dimensions/duration/sample-rate parsed from the
    // container bytes into metadata, payload rides along as a
    // media span with a synthetic name ("embedded-N.ext",
    // EmbeddedDocumentUtil.java:225-262)
    on(MediaTypes.Png, MediaTypes.Jpeg, MediaTypes.Gif, MediaTypes.Tiff,
      MediaTypes.Bmp, MediaTypes.Webp, MediaTypes.Mp3, MediaTypes.Wav,
      MediaTypes.Ogg, MediaTypes.Mp4, MediaTypes.Avi, MediaTypes.Matroska,
      MimeDb.Midi, MimeDb.M4a, MimeDb.M4v, MimeDb.Flv, MimeDb.MpegVideo,
      MimeDb.QuickTime, MimeDb.WebmVideo, MimeDb.Heic, MimeDb.Avif, MimeDb.Jp2,
      MimeDb.Ico, MimeDb.Psd,
      // round-3 second magic tranche — media containers pass through as
      // media spans (metadata-only), like the rest of this family
      MimeDb.OggVorbis, MimeDb.OggOpus, MimeDb.OggTheora, MimeDb.OggSpeex,
      MimeDb.OggFlacA, MimeDb.Asf, MimeDb.Caf, MimeDb.AmrWb, MimeDb.Sid,
      MimeDb.RealAudio, MimeDb.Mng, MimeDb.Jng, MimeDb.Ac3, MimeDb.CanonCr2,
      MimeDb.Pcx, MimeDb.Pam, MimeDb.SgiRgb, MimeDb.Bpg, MimeDb.Icns, MimeDb.Dpx,
      MimeDb.Nitf, MimeDb.Aiff, MimeDb.AuBasic, MimeDb.Jxl,
      // round-5 detect-only formats gaining native dimension reads
      MimeDb.Pbm, MimeDb.Pgm, MimeDb.Ppm, MimeDb.Djvu, MimeDb.Pict, MimeDb.Swf,
      MimeDb.Amr, "audio/x-aac", "image/vnd.zbrush.dcx", "image/x-jbig2") { (w, n) =>
      w.embeddedCount += 1
      val ext = MediaExt.getOrElse(n.mime, n.mime.substring(n.mime.indexOf('/') + 1))
      val ref = s"embedded:embedded-${w.embeddedCount}.$ext"
      graft.media.MediaParser.parse(n.bytes).foreach { mm =>
        if (mm.width > 0) {
          n.meta.add(s"media:$ref:width", mm.width.toString)
          n.meta.add(s"media:$ref:height", mm.height.toString)
        }
        if (mm.durationMs > 0) n.meta.add(s"media:$ref:duration_ms", mm.durationMs.toString)
        if (mm.sampleRate > 0) n.meta.add(s"media:$ref:sample_rate", mm.sampleRate.toString)
        if (mm.orientation > 0) n.meta.add(s"media:$ref:orientation", mm.orientation.toString)
        // descriptive tags (ID3 title/artist/album, xmp:*) ride
        // under the same media:<ref> namespace
        mm.tags.foreach { case (k, v) => n.meta.add(s"media:$ref:$k", v) }
        // attached pictures (ID3 APIC cover art) recurse as inline
        // embedded documents, like the reference's Mp3Parser
        mm.attachments.foreach { case (name, data) => w.inlineChild(n)(Some(name), data) }
      }
      w.sink.media(ref)
    },
    on(MimeDb.Netcdf)(leaf(graft.sci.NetcdfExtractor.extract)),
    on(MimeDb.Hdf)((_, n) => graft.sci.HdfExtractor.extract(n.bytes, n.meta)),
    on(MimeDb.Fits)(leaf(graft.sci.FitsExtractor.extract)),
    on(MimeDb.Grib)(leaf(graft.sci.GribExtractor.extract)),
    on(MimeDb.Matlab)(leaf(graft.sci.MatExtractor.extract)),
    on(MimeDb.EnviHdr)(leaf(graft.sci.EnviExtractor.extract)),
    on(graft.zipx.Iwork13Extractor.Keynote13, graft.zipx.Iwork13Extractor.Numbers13,
        graft.zipx.Iwork13Extractor.Pages13, graft.zipx.Iwork13Extractor.Unknown13) {
      (w, n) => graft.zipx.Iwork13Extractor.extract(n.bytes, n.meta, w.named(n))
    },
    on(MimeDb.ActiveMime) { (w, n) =>
      graft.ole2.ActiveMimeExtractor.extract(n.bytes, n.meta, w.named(n))
    },
    on(MimeDb.SasData)(leaf(graft.sci.SasExtractor.extract)),
    on(MimeDb.Sqlite) { (w, n) =>
      graft.db.SqliteExtractor.extract(n.bytes, w.sink, n.meta, w.child(n))
    },
    on(MimeDb.MsAccess) { (w, n) =>
      graft.db.AccessExtractor.extract(n.bytes, w.sink, n.meta, w.named(n))
    },
    on(MimeDb.OneNote)(leaf(graft.onenote.OneNoteExtractor.extract)),
    on(MimeDb.Chm)(leaf(graft.chm.ChmExtractor.extract)),
    on(MimeDb.HwpV5)(leaf(graft.ole2.HwpExtractor.extract)),
    on(MimeDb.Wpd)(leaf(graft.textparse.WordPerfectExtractor.extract)),
    on(MimeDb.Qpw)(leaf(graft.textparse.QpwExtractor.extract)),
    // pre-v9 QuattroPro record streams — the reference throws
    // UnsupportedFormatException here (beyond-reference, r5)
    on(MimeDb.QpwDos14, MimeDb.QpwDos5, MimeDb.QpwWin15, MimeDb.QpwWin6)(
      leaf(graft.textparse.QpwExtractor.extractLegacy)),
    // QPW v7/8: the same legacy record stream, wrapped in a CFB
    // PerfectOffice_MAIN stream (BOF version 0x1007)
    on("application/x-quattro-pro;version=7-8") { (w, n) =>
      val cfb = Cfb.parse(n.bytes)
      OleProps.fromCfb(cfb, n.meta)
      cfb.entries.find(e => e.objType == 2 && e.name == "PerfectOffice_MAIN")
        .map(cfb.readStream)
        .foreach(graft.textparse.QpwExtractor.extractLegacy(_, w.sink, n.meta))
    },
    // DWF 6+: "(DWF Vxx.yy)" prologue, then a plain zip package —
    // members (manifest/descriptors/w2d streams) recurse like any
    // archive; the reference only detects the type
    on("model/vnd.dwf") { (w, n) =>
      val bytes = n.bytes
      n.meta.set("dwf:version", new String(bytes, 5, math.min(6, bytes.length - 5),
        java.nio.charset.StandardCharsets.US_ASCII))
      val zipAt = (0 to math.min(bytes.length, 64) - 4).find(i => bytes(i) == 'P' &&
        bytes(i + 1) == 'K' && bytes(i + 2) == 3 && bytes(i + 3) == 4)
      zipAt match {
        // the zip walk itself records the depth cap (sawUnsupported)
        case Some(at) => w.zip(n, java.util.Arrays.copyOfRange(bytes, at, bytes.length))
        case None => w.sawUnsupported = true // pre-6 binary DWF
      }
    },
    on(MimeDb.Dbf)(leaf(graft.textparse.DbfExtractor.extract)),
    on(MimeDb.DifXml)(leaf(graft.xmlx.DifExtractor.extract)),
    on(MimeDb.Dwg)(leaf(graft.media.DwgExtractor.extract)),
    on(MimeDb.Mif)(leaf(graft.textparse.MifExtractor.extract)),
    on(MimeDb.Idml)(leaf(graft.zipx.IdmlExtractor.extract)),
    on("application/vnd.apple.keynote", "application/vnd.apple.pages",
        "application/vnd.apple.numbers") { (w, n) =>
      graft.zipx.IworkExtractor.extract(n.bytes, n.mime, w.sink, n.meta)
    },
    on(MimeDb.BPlist, "application/x-plist") { (w, n) =>
      graft.textparse.PlistExtractor.extract(n.bytes, w.sink, n.meta, w.child(n))
    },
    on(MimeDb.Ttf, MimeDb.Otf)(leaf(graft.media.FontExtractor.extractTtf)),
    on(MimeDb.Afm)(leaf(graft.media.FontExtractor.extractAfm)),
    on(MimeDb.Prt)(leaf(graft.media.PrtExtractor.extract)),
    on(MimeDb.Tmx)(leaf(graft.xmlx.TranslationExtractor.extractTmx)),
    on(MimeDb.Xliff)(leaf(graft.xmlx.TranslationExtractor.extractXliff)),
    on(MimeDb.Xlz)(leaf(graft.xmlx.TranslationExtractor.extractXlz)),
    on(MimeDb.FictionBook) { (w, n) =>
      graft.xmlx.FictionBookExtractor.extract(n.bytes, w.sink, n.meta, w.child(n))
    },
    on(MimeDb.Tnef) { (w, n) =>
      graft.mail.TnefExtractor.extract(n.bytes, w.sink, n.meta, w.child(n))
    },
    on(MimeDb.Pst)((w, n) => graft.pst.PstExtractor.extract(n.bytes, w.sink, n.meta, w.child(n))),
    on(MimeDb.MsOwner)((_, n) => graft.ole2.OwnerFileExtractor.extract(n.bytes, n.meta)),
    // FlacParser analog: STREAMINFO + VorbisComment metadata,
    // PICTURE blocks recurse as embedded children in file order
    on(MimeDb.Flac) { (w, n) =>
      graft.media.FlacExtractor.extract(n.bytes, w.sink, n.meta, w.child(n))
    },
    // ClassParser analog: javap-style declaration text
    on(MimeDb.JavaClass)(leaf(graft.code.ClassExtractor.extract)),
    // ExecutableParser analog: machine:* metadata, header-only
    on(MimeDb.Elf, MimeDb.ElfExe, MimeDb.ElfLib, MimeDb.ElfObj, MimeDb.ElfCore,
        MimeDb.MsExe, MimeDb.MachO, MimeDb.MachOFat)(
      leaf(graft.code.ExecutableExtractor.extract)),
    on(MimeDb.Emf) { (w, n) =>
      graft.media.MetafileExtractor.emf(n.bytes, w.sink, n.meta, w.named(n))
    },
    on(MimeDb.Wmf)(leaf(graft.media.MetafileExtractor.wmf)),
    // DGN v8: CFB container, summary metadata only (DGN8Parser)
    on("image/vnd.dgn;version=8")(oleProps),
    on("application/x-mspublisher")(leaf(graft.ole2.PubExtractor.extract)),
    // Works 3/4 MN0 text zone + Works 2000 Quill CONTENTS —
    // the reference's OfficeParser excludes WORKS entirely (r5)
    on("application/vnd.ms-works")(leaf(graft.ole2.WpsExtractor.extract)),
    // ASTM E57 header: signature + major.minor version
    on("model/e57") { (_, n) =>
      val b = n.bytes
      if (b.length >= 16) {
        val major = Endian.le16(b, 8)
        val minor = Endian.le16(b, 12)
        n.meta.set("e57:version", s"$major.$minor")
      }
    },
    // PKCS#12 PFX: structure identification via the DER walk
    on("application/x-pkcs12")(leaf(graft.crypto.DerKeyExtractor.extract)),
    on("application/vnd.visio")(leaf(graft.ole2.VsdExtractor.extract)),
    on(MediaTypes.MsWord) { (w, n) =>
      graft.ole2.DocExtractor.extract(n.bytes, w.sink, n.meta, w.named(n), w.cfg.password)
    },
    // Works 7.0 .xlr is a BIFF8 workbook under a different root
    // entry (OfficeParser POIFSDocumentType.XLR → ExcelExtractor)
    on(MediaTypes.MsExcel, "application/x-tika-msworks-spreadsheet") { (w, n) =>
      graft.ole2.XlsExtractor.extract(n.bytes, w.sink, n.meta, w.named(n), w.cfg.password)
    },
    // SolidWorks parts/assemblies/drawings: summary metadata only
    // (OfficeParser SOLIDWORKS_* cases emit no body text)
    on("application/sldworks")(oleProps),
    on(MediaTypes.MsPowerPoint) { (w, n) =>
      graft.ole2.PptExtractor.extract(n.bytes, w.sink, n.meta, w.named(n), w.cfg.password)
    },
    on(MediaTypes.MsOutlook) { (w, n) =>
      graft.ole2.MsgExtractor.extract(n.bytes, w.sink, n.meta, w.named(n))
    },
    // password-protected OOXML (CFB-wrapped EncryptedPackage):
    // try MS-OFFCRYPTO decryption with the supplied password, or
    // the reference's default "VelvetSweatshop" without one
    // (OfficeParser.java:258-292 — the provider password REPLACES
    // the default; exactly one attempt, failure throws
    // EncryptedDocumentException)
    on(Ole2Detector.OoxmlProtected) { (w, n) =>
      val pw = w.cfg.password.getOrElse(graft.crypto.OfficeCrypto.DefaultPassword)
      graft.crypto.OfficeCrypto.decryptOoxml(Cfb.parse(n.bytes), pw) match {
        case Some(opc) =>
          n.meta.set("ooxml:protected", "true")
          // re-dispatch the decrypted OPC zip: the reported type
          // becomes the real document type, like the reference's
          // OOXMLExtractorFactory overwriting Content-Type
          if (n.idPath.isEmpty) w.topMime = null
          w.parseNode(opc, n.idPath, n.nameHint, n.depth)
        case None => w.exception(n, s"${n.mime} password-protected")
      }
    },
    // OLE2 DRM dataspaces (TIKA-3666): the reference throws
    // EncryptedDocumentException — record a parse failure, not an
    // unknown type
    on(Ole2Detector.DrmEncrypted)((w, n) => w.exception(n, s"${n.mime} password-protected")),
    // OfficeParser POIFSDocumentType.PROJECT: summary properties
    // only, no body text
    on(Ole2Detector.MsProject)(oleProps),
    // embedded-object carriers first (AbstractPOIFSExtractor
    // .handleEmbeddedOfficeDoc): a `Package` stream holds an OPC
    // zip, an Ole10Native record wraps a named payload, and a
    // `CONTENTS` stream starting %PDF is a raw PDF
    on(MediaTypes.TikaMsOffice, Ole2Detector.CompObjEmbedded,
        Ole2Detector.Ole10Native) { (w, n) =>
      val carrier =
        try {
          val cfb = Cfb.parse(n.bytes)
          OleProps.fromCfb(cfb, n.meta)
          graft.ole2.OleEmbedded.unwrap(cfb)
        } catch { case _: Exception => None }
      carrier match {
        case Some((nm, data)) => w.inlineChild(n)(
          Some(nm.getOrElse("package" + graft.ole2.OleEmbedded.extFor(data))), data)
        // CFB whose subtype markers matched nothing — recorded,
        // like the reference's unknown-POIFS fallthrough
        case None => w.sawUnsupported = true
      }
    }
  ).flatten
  private val Routes: Map[String, Route] = RouteList.toMap
  // exposed so a test can check that no key is duplicated or shadowed
  // by a prefix family, which would change which parser wins
  private[engine] def routeKeys: Seq[String] = RouteList.map(_._1)
  private[engine] def prefixKeys: Seq[String] = PrefixRoutes.map(_._1)

  /** Type families matched by prefix, tried in order after the exact
    * lookup. No exact key in `Routes` starts with any of these. */
  private val PrefixRoutes: Seq[(String, Route)] = Seq(
    "application/vnd.ms-visio." -> leaf(graft.ooxml.VsdxExtractor.extract),
    MimeDb.Lotus123 -> leaf(graft.textparse.LotusExtractor.extract),
    MimeDb.BerkeleyDb -> leaf(graft.db.BdbExtractor.extract),
    // StarOffice 5.x binary: the SW5/SC5 body format is out of
    // scope, but the standard SummaryInformation property set
    // carries author/title metadata (OleProps) — the reference
    // has no parser at all for these
    "application/vnd.stardivision." -> { (_, n) =>
      OleProps.fromCfb(Cfb.parse(n.bytes), n.meta)
      n.meta.set("staroffice:kind", n.mime.stripPrefix("application/vnd.stardivision."))
    })

  /** CompositeParser.getParser supertype-walk dispatch
    * (tika-core parser/CompositeParser.java:245-268): a type without its
    * own parser is handled by the nearest ancestor that has one —
    * x-sh/x-python/calendar/… land on the text parser (no CSV sniff),
    * +xml types on the XML parser, +zip containers on zip recursion.
    * Only an octet-stream-rooted walk with no parser en route records
    * unsupported_type.
    */
  private val SuperTypeWalk: Route = (w, n) => {
    var cur = MimeRegistry.superType(n.mime)
    var handled = false
    while (!handled && cur.isDefined) {
      handled = true
      cur.get match {
        case MediaTypes.Eml =>
          // multipart/related (MHTML) sub-classes message/rfc822
          // (tika-mimetypes.xml:7511) and rides the mail parser
          graft.mail.EmlExtractor.extract(n.bytes, w.sink, n.meta, w.child(n))
        case MediaTypes.TextPlain =>
          w.sink.chars(EncodingDetector.decode(n.bytes))
          w.sink.newline()
        case MediaTypes.Xml => XmlExtractor.extract(n.bytes, w.sink, n.meta)
        case MediaTypes.Zip => w.zip(n, n.bytes)
        case other =>
          handled = false
          cur = MimeRegistry.superType(other)
      }
    }
    if (!handled && w.cfg.stringsFallback) {
      // opt-in StringsParser analog: when configured, it IS the
      // parser for otherwise-unsupported binaries (a successful
      // parse, like the reference's strings route); the source
      // mime is recorded so consumers can tell salvage from text
      graft.textparse.StringsExtractor.extract(n.bytes, w.sink)
      n.meta.add("strings:fallback", n.mime)
    } else if (!handled) w.sawUnsupported = true
  }

  private def route(mime: String): Route =
    Routes.getOrElse(mime, PrefixRoutes.collectFirst {
      case (prefix, r) if mime.startsWith(prefix) => r
    }.getOrElse(SuperTypeWalk))

  def extract(row: DocRow, cfg: Config = DefaultConfig): ExtractedDoc = {
    val payloadTotal = row.spans.iterator.map { s =>
      if (s.kind == Span.KindMedia) 0L else (if (s.text == null) 0L else s.text.length.toLong)
    }.sum
    val deadline =
      if (cfg.softDeadlineMs <= 0) Long.MaxValue
      else System.nanoTime() + cfg.softDeadlineMs * 1000000L
    val sink = new SpanSink(cfg.writeLimit, payloadTotal, deadline)
    val w = new Walk(cfg, sink)
    var limitHit = false
    var timedOut = false
    try {
      row.spans.sortBy(_.offset).foreach { s =>
        if (s.kind == Span.KindMedia) sink.media(s.media_ref)
        else {
          val bytes = payloadBytes(s)
          // pre-parse digest (AutoDetectParser.java:151 / DigestHelper) —
          // the lineage/dedup key for the raw payload
          if (bytes.nonEmpty)
            w.meta.add("tk:digest:sha256", graft.core.Hex.encode(
              java.security.MessageDigest.getInstance("SHA-256").digest(bytes)))
          // the row id doubles as the resource-name hint, exactly like
          // AutoDetectParser's RESOURCE_NAME_KEY — applyHint only ever
          // SPECIALIZES the content-detected type, never overrides it
          w.parseNode(bytes, "", Option(row.doc_id), 0)
          w.drain(0)
        }
      }
    } catch {
      case _: WriteLimitReached => limitHit = true
      case _: DocTimeout => timedOut = true
      case _: ZipBombDetected => w.bomb = true
    }

    val spans = sink.result()
    val status =
      if (timedOut) Status.Timeout
      else if (w.bomb) Status.ZipBomb
      else if (limitHit || sink.limitReached) Status.WriteLimitReached
      else if (row.spans.isEmpty) Status.EmptyDoc
      else if (w.sawUnsupported && spans.isEmpty) Status.UnsupportedType
      else if (w.sawException && spans.isEmpty) Status.ParseException
      else if (w.sawException || w.sawUnsupported) Status.ParseSuccessWithException
      else Status.ParseSuccess

    ExtractedDoc(
      doc_id = row.doc_id,
      mime = if (w.topMime == null) MediaTypes.OctetStream else w.topMime,
      status = status,
      spans = spans,
      meta = w.meta.result(),
      n_spans = spans.length,
      n_chars = sink.charCount
    )
  }
}

/** application/xml character-content extraction via JDK SAX.
  *
  * Reference: tika-parsers .../xml-module XMLParser (char content passes
  * through; DcXMLParser maps dc:* elements to metadata).
  */
object XmlExtractor {
  import org.xml.sax.Attributes
  import org.xml.sax.helpers.DefaultHandler

  private val DcFields = Set("title", "creator", "subject", "description",
    "publisher", "contributor", "date", "language", "identifier")

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    var dcField: String = null
    val dcBuf = new StringBuilder
    NsSax.parsePlain(bytes, new DefaultHandler {
      override def startElement(u: String, l: String, q: String, a: Attributes): Unit = {
        val idx = q.indexOf(':')
        if (idx > 0 && q.substring(0, idx) == "dc" && DcFields.contains(q.substring(idx + 1))) {
          dcField = q.substring(idx + 1); dcBuf.setLength(0)
        }
      }
      override def characters(ch: Array[Char], start: Int, length: Int): Unit = {
        sink.chars(new String(ch, start, length))
        if (dcField != null) dcBuf.appendAll(ch, start, length)
      }
      override def endElement(u: String, l: String, q: String): Unit = {
        if (dcField != null && q == "dc:" + dcField) {
          meta.add("dc:" + dcField, dcBuf.toString.trim)
          dcField = null
        }
      }
    })
    sink.newline()
  }
}
