package graft.ooxml

import org.xml.sax.Attributes
import org.xml.sax.helpers.DefaultHandler
import scala.collection.mutable.ArrayBuffer
import graft.engine.MetaSink
import graft.xmlx.NsSax

/** One OPC package — the parts map of an OOXML, Visio or XPS zip — read
  * the way POI's `OPCPackage` reads it: one relationship collection per
  * part, parsed from `<dir>/_rels/<name>.rels` at most once, and one
  * part-name resolution for their targets (`PackagingURIHelper`).
  */
final class Opc(val parts: Map[String, Array[Byte]]) {
  import Opc._

  private val cache = scala.collection.mutable.HashMap.empty[String, Vector[Rel]]

  /** `part`'s relationships in document order; `""` is the package's own
    * `_rels/.rels`. A part without a rels part has none; a malformed rels
    * part throws, on every call.
    */
  def rels(part: String): Vector[Rel] = {
    val i = part.lastIndexOf('/')
    val path = part.substring(0, i + 1) + "_rels/" + part.substring(i + 1) + ".rels"
    cache.getOrElseUpdate(path, parts.get(path).fold(Vector.empty[Rel])(parseRels))
  }

  /** `part`'s relationships by Id; a duplicate Id keeps the last one. */
  def byId(part: String): Map[String, Rel] = rels(part).iterator.map(r => r.id -> r).toMap

  /** The part a relationship of `from` points at, when the package holds
    * it: the resolved name first, then the target read as
    * package-absolute — some producers write a package-relative target
    * without its leading slash (`xl/worksheets/sheet1.xml` in a workbook
    * rels). An External target names no part.
    */
  def part(from: String, r: Rel): Option[String] =
    if (r.external) None
    else Some(resolve(from, r.target)).filter(parts.contains)
      .orElse(Some(resolve("", r.target)).filter(parts.contains))

  /** `docProps/core.xml` → `dc:title`/`dc:creator`/`dc:subject` (the
    * reference maps OPC core properties to Dublin Core), plus
    * `dcterms:created`/`dcterms:modified` when `dates` is set; the dates
    * are set after the other three, in document order.
    */
  def coreProps(meta: MetaSink, dates: Boolean = false): Unit =
    parts.get("docProps/core.xml").foreach { bytes =>
      val buf = new StringBuilder
      var field: String = null
      val stamps = ArrayBuffer.empty[(String, String)]
      NsSax.parsePlain(bytes, new DefaultHandler {
        override def startElement(u: String, l: String, q: String, a: Attributes): Unit =
          NsSax.local(l, q) match {
            case n @ ("title" | "creator" | "subject") => field = n; buf.setLength(0)
            case n @ ("created" | "modified") if dates => field = n; buf.setLength(0)
            case _ => ()
          }
        override def characters(ch: Array[Char], start: Int, length: Int): Unit =
          if (field != null) buf.appendAll(ch, start, length)
        override def endElement(u: String, l: String, q: String): Unit =
          if (NsSax.local(l, q) == field) {
            val v = buf.toString.trim
            if (field == "created" || field == "modified") stamps += (("dcterms:" + field, v))
            else meta.set("dc:" + field, v)
            field = null
          }
      })
      stamps.foreach { case (k, v) => meta.set(k, v) }
    }
}

object Opc {

  /** One `<Relationship>`: kept when it carries both an Id and a Target;
    * a missing Type reads as "".
    */
  final case class Rel(id: String, tpe: String, target: String, external: Boolean)

  /** One `.rels` part — the package's only Relationship handler. The
    * element matches by local name, so a prefixed `pr:Relationship` counts.
    */
  private def parseRels(bytes: Array[Byte]): Vector[Rel] = {
    val out = Vector.newBuilder[Rel]
    NsSax.parsePlain(bytes, new DefaultHandler {
      override def startElement(u: String, l: String, q: String, a: Attributes): Unit =
        if (NsSax.local(l, q) == "Relationship") {
          val id = a.getValue("Id")
          val target = a.getValue("Target")
          if (id != null && target != null)
            out += Rel(id, Option(a.getValue("Type")).getOrElse(""), target,
              "External".equalsIgnoreCase(a.getValue("TargetMode")))
        }
    })
    out.result()
  }

  /** Part name of `target` seen from `fromPart` (`PackagingURIHelper`
    * semantics): a leading `/` makes it package-absolute, otherwise it
    * joins `fromPart`'s directory; `.` and empty segments drop, `..` pops.
    * `""` as `fromPart` is the package root.
    */
  def resolve(fromPart: String, target: String): String = {
    val joined =
      if (target.startsWith("/")) target
      else fromPart.substring(0, fromPart.lastIndexOf('/') + 1) + target
    val out = ArrayBuffer.empty[String]
    joined.split('/').foreach {
      case "" | "." => ()
      case ".." => if (out.nonEmpty) out.remove(out.length - 1)
      case seg => out += seg
    }
    out.mkString("/")
  }
}
