package graft.xmlx

import javax.xml.parsers.{SAXParser, SAXParserFactory}
import org.xml.sax.helpers.DefaultHandler

/** XXE-safe SAX parsing with thread-local parser reuse — the one SAX
  * entry point of every XML-based extractor, and the single home for the
  * factory hardening block and the engine control-flow tunnel.
  *
  * Two parser pools: the engine's main path ([[parsePlain]]) is
  * prefix-based (namespace-unaware) for speed; formats whose semantics
  * hang on namespace URIs (XFA, WordML/SpreadsheetML 2003, Visio OOXML,
  * TMX/XLIFF, DIF, FictionBook, IDML) parse namespace-aware through
  * [[parse]]. A parse started from inside another one's callback (an
  * embedded document) gets a fresh parser, so the outer parse survives.
  *
  * The factory lookup (`SAXParserFactory.newInstance`) is a synchronized
  * classloader service scan — doing it per document serializes every
  * executor thread on one lock and caps throughput. One factory+parser
  * per thread, reused across documents, mirrors the reference's parser
  * reuse contract (tika-core parser/Parser.java thread-safety javadoc;
  * SURVEY.md §4 "parser instance reuse across docs").
  */
object NsSax {

  /** Hardened parser: allow DOCTYPE declarations (real-world XML
    * carries them) but never RESOLVE external entities/DTDs — the
    * reference's XXE stance (tika XMLReaderUtils: external entities
    * disabled, local doctypes tolerated; fixture testXXE.xml must parse
    * cleanly without touching its file:// system id).
    */
  private def newParser(nsAware: Boolean): SAXParser = {
    val f = SAXParserFactory.newInstance()
    f.setNamespaceAware(nsAware)
    f.setValidating(false)
    try {
      f.setFeature("http://xml.org/sax/features/external-general-entities", false)
      f.setFeature("http://xml.org/sax/features/external-parameter-entities", false)
      f.setFeature("http://apache.org/xml/features/nonvalidating/load-external-dtd", false)
    } catch { case _: Exception => () }
    try f.setFeature(javax.xml.XMLConstants.FEATURE_SECURE_PROCESSING, true)
    catch { case _: Exception => () }
    f.newSAXParser()
  }

  private val nsParser = new ThreadLocal[SAXParser] {
    override def initialValue(): SAXParser = newParser(nsAware = true)
  }
  private val plainParser = new ThreadLocal[SAXParser] {
    override def initialValue(): SAXParser = newParser(nsAware = false)
  }
  // re-entrancy depth: a nested parse on the same thread (an embedded
  // child recursing from inside a SAX callback) must NOT re-enter the
  // in-flight thread-local parser — it gets a fresh single-use one
  private val plainDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }
  private val nsDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  /** SAXException propagates (callers decide the failure mode), but
    * engine control-flow throwables tunnel through untranslated.
    */
  private def run(p: SAXParser, bytes: Array[Byte],
      handler: DefaultHandler): Unit = {
    p.reset()
    try p.parse(new java.io.ByteArrayInputStream(bytes), handler)
    catch {
      case e: org.xml.sax.SAXException =>
        e.getCause match {
          case w: graft.engine.WriteLimitReached => throw w
          case z: graft.engine.ZipBombDetected => throw z
          case t: graft.engine.DocTimeout => throw t
          case _ => throw e
        }
    }
  }

  private def runGuarded(depth: ThreadLocal[Integer], pooled: => SAXParser,
      nsAware: Boolean, bytes: Array[Byte], handler: DefaultHandler): Unit = {
    val d = depth.get()
    val p = if (d == 0) pooled else newParser(nsAware)
    depth.set(d + 1)
    try run(p, bytes, handler) finally depth.set(d)
  }

  /** An element's local name: `l` where the parser reports one
    * ([[parse]]), else `q` without its prefix ([[parsePlain]] reports an
    * empty `l`).
    */
  def local(l: String, q: String): String =
    if (l != null && l.nonEmpty) l else q.substring(q.indexOf(':') + 1)

  /** Namespace-aware parse. */
  def parse(bytes: Array[Byte], handler: DefaultHandler): Unit =
    runGuarded(nsDepth, nsParser.get(), nsAware = true, bytes, handler)

  /** Namespace-unaware (prefix-based) parse — the engine's main path. */
  def parsePlain(bytes: Array[Byte], handler: DefaultHandler): Unit =
    runGuarded(plainDepth, plainParser.get(), nsAware = false, bytes, handler)
}
