package graft.db

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian.{be16, be32}

/** SQLite 3 text extraction — a from-scratch read-only reader of the
  * public database file format (sqlite.org/fileformat2: 100-byte header,
  * table B-trees of interior/leaf pages, record serial types, overflow
  * chains). The reference extracts each table's rows via JDBC
  * (tika-parser-sqlite3-module sqlite3/SQLite3DBParser.java,
  * SQLite3TableReader.java renders one XHTML table per db table); here
  * each table becomes a heading line plus one tab-joined line per row,
  * NULLs render empty, and an INTEGER PRIMARY KEY alias column renders
  * the rowid, matching the reference's visible cell text.
  *
  * Scope: plain rowid tables (the overwhelmingly common shape). WITHOUT
  * ROWID tables, indexes, WAL and freelist pages are ignored.
  */
object SqliteExtractor {

  final class SqliteMalformed(msg: String) extends RuntimeException(msg)

  private val Magic = "SQLite format 3".getBytes("US-ASCII") :+ 0.toByte

  def isSqlite(b: Array[Byte]): Boolean =
    b.length > 100 && Magic.indices.forall(i => b(i) == Magic(i))

  /** SQLite varint: 1-9 bytes, big-endian 7-bit groups. Returns (value,
    * bytes consumed). */
  private def varint(b: Array[Byte], o: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      if (o + i >= b.length) throw new SqliteMalformed("truncated varint")
      val x = b(o + i) & 0xff
      if ((x & 0x80) == 0) return ((v << 7) | x, i + 1)
      v = (v << 7) | (x & 0x7f)
      i += 1
    }
    if (o + 8 >= b.length) throw new SqliteMalformed("truncated varint")
    (((v << 8) | (b(o + 8) & 0xff)), 9)
  }

  private final case class Db(bytes: Array[Byte], pageSize: Int, usable: Int,
      encoding: Int) {
    val nPages: Int = bytes.length / pageSize
    def page(n: Int): Int = {
      if (n < 1 || n > nPages) throw new SqliteMalformed(s"page $n out of range")
      (n - 1) * pageSize
    }
  }

  sealed trait Value
  private case object VNull extends Value
  private final case class VInt(v: Long) extends Value
  private final case class VReal(v: Double) extends Value
  private final case class VText(v: String) extends Value
  private final case class VBlob(data: Array[Byte]) extends Value

  private def renderValue(v: Value): String = v match {
    case VNull => ""
    case VInt(x) => x.toString
    case VReal(x) =>
      if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
      // a float-precision double was inserted as a 4-byte float; the
      // reference renders FLOAT columns via getFloat → "2.3", not the
      // widened 2.299999952316284 (SQLite3TableReader.java float path)
      else if (x.toFloat.toDouble == x) x.toFloat.toString
      else x.toString
    case VText(s) => s
    case VBlob(data) => s"<blob:${data.length} bytes>"
  }

  /** Reassemble a cell payload that may spill to overflow pages. */
  private def payload(db: Db, pageBuf: Array[Byte], cellOff: Int,
      localStart: Int, total: Long, isLeafTable: Boolean): Array[Byte] = {
    val u = db.usable
    val x = if (isLeafTable) u - 35 else ((u - 12) * 64 / 255) - 23
    if (total <= x) {
      if (localStart + total > pageBuf.length)
        throw new SqliteMalformed("cell payload overruns page")
      java.util.Arrays.copyOfRange(pageBuf, localStart, (localStart + total).toInt)
    } else {
      val m = ((u - 12) * 32 / 255) - 23
      val k = m + ((total - m) % (u - 4)).toInt
      val local = if (k <= x) k else m
      val out = new java.io.ByteArrayOutputStream(total.toInt)
      out.write(pageBuf, localStart, local)
      var next = be32(pageBuf, localStart + local).toInt
      var remaining = total - local
      var hops = 0
      while (next != 0 && remaining > 0) {
        hops += 1
        if (hops > 100000) throw new SqliteMalformed("overflow chain loop")
        val off = db.page(next)
        val take = math.min(remaining, (u - 4).toLong).toInt
        out.write(db.bytes, off + 4, take)
        remaining -= take
        next = be32(db.bytes, off).toInt
      }
      if (remaining > 0) throw new SqliteMalformed("short overflow chain")
      out.toByteArray
    }
  }

  /** Decode one record (row) into values. */
  private def record(db: Db, p: Array[Byte]): Vector[Value] = {
    val (hdrLen, n0) = varint(p, 0)
    var ho = n0
    var types = Vector.empty[Long]
    while (ho < hdrLen) {
      val (t, n) = varint(p, ho)
      types :+= t
      ho += n
    }
    var o = hdrLen.toInt
    types.map { t =>
      def take(n: Int): Int = { val s = o; o += n; s }
      t match {
        case 0 => VNull
        case 1 => VInt(p(take(1)).toLong)
        case 2 => val s = take(2); VInt((be16(p, s) << 16 >> 16).toLong)
        case 3 => val s = take(3)
          VInt((((p(s) & 0xffL) << 16) | ((p(s + 1) & 0xffL) << 8) |
            (p(s + 2) & 0xffL)) << 40 >> 40)
        case 4 => val s = take(4); VInt(be32(p, s).toInt.toLong)
        case 5 => val s = take(6)
          var v = 0L; for (i <- 0 until 6) v = (v << 8) | (p(s + i) & 0xff)
          VInt(v << 16 >> 16)
        case 6 => val s = take(8)
          var v = 0L; for (i <- 0 until 8) v = (v << 8) | (p(s + i) & 0xff)
          VInt(v)
        case 7 => val s = take(8)
          var v = 0L; for (i <- 0 until 8) v = (v << 8) | (p(s + i) & 0xff)
          VReal(java.lang.Double.longBitsToDouble(v))
        case 8 => VInt(0)
        case 9 => VInt(1)
        case t if t >= 13 && t % 2 == 1 =>
          val n = ((t - 13) / 2).toInt
          val s = take(n)
          if (s + n > p.length) throw new SqliteMalformed("text overruns record")
          val cs = db.encoding match {
            case 2 => java.nio.charset.StandardCharsets.UTF_16LE
            case 3 => java.nio.charset.StandardCharsets.UTF_16BE
            case _ => java.nio.charset.StandardCharsets.UTF_8
          }
          VText(new String(p, s, n, cs))
        case t if t >= 12 && t % 2 == 0 =>
          val n = ((t - 12) / 2).toInt
          val s0 = take(n)
          if (s0 + n > p.length) throw new SqliteMalformed("blob overruns record")
          VBlob(java.util.Arrays.copyOfRange(p, s0, s0 + n))
        case other => throw new SqliteMalformed(s"bad serial type $other")
      }
    }
  }

  /** Walk a table B-tree, invoking f(rowid, record) per leaf cell. */
  private def walkTable(db: Db, rootPage: Int,
      f: (Long, Vector[Value]) => Unit): Unit = {
    val stack = new java.util.ArrayDeque[Integer]
    stack.push(rootPage)
    var visited = 0
    while (!stack.isEmpty) {
      visited += 1
      if (visited > 1000000) throw new SqliteMalformed("page walk runaway")
      val pn = stack.pop()
      val off = db.page(pn)
      val hdr = if (pn == 1) off + 100 else off
      val pageType = db.bytes(hdr) & 0xff
      val cellCount = be16(db.bytes, hdr + 3)
      val ptrArray = hdr + (if (pageType == 5 || pageType == 2) 12 else 8)
      pageType match {
        case 5 => // interior table: push right-most first so the LIFO
          // pops children left-to-right (ascending rowid order)
          stack.push(be32(db.bytes, hdr + 8).toInt)
          var i = cellCount - 1
          while (i >= 0) {
            val co = off + be16(db.bytes, ptrArray + 2 * i)
            stack.push(be32(db.bytes, co).toInt)
            i -= 1
          }
        case 13 => // leaf table
          var j = 0
          while (j < cellCount) {
            val co = off + be16(db.bytes, ptrArray + 2 * j)
            val (len, n1) = varint(db.bytes, co)
            val (rowid, n2) = varint(db.bytes, co + n1)
            val p = payload(db, db.bytes, co, co + n1 + n2, len,
              isLeafTable = true)
            f(rowid, record(db, p))
            j += 1
          }
        case 2 | 10 => () // index pages: not table content
        case other => throw new SqliteMalformed(s"bad page type $other")
      }
    }
  }

  final case class Table(name: String, sql: String, rootPage: Int)

  def tables(bytes: Array[Byte]): Vector[Table] = {
    val db = open(bytes)
    var out = Vector.empty[Table]
    walkTable(db, 1, { (_, rec) =>
      rec match {
        case Vector(VText("table"), VText(name), _, rp, sqlv) =>
          val root = rp match { case VInt(v) => v.toInt; case _ => 0 }
          val sql = sqlv match { case VText(s) => s; case _ => "" }
          if (root > 0 && !name.startsWith("sqlite_"))
            out :+= Table(name, sql, root)
        case _ => ()
      }
    })
    out
  }

  private def open(bytes: Array[Byte]): Db = {
    if (!isSqlite(bytes)) throw new SqliteMalformed("not a sqlite db")
    val ps0 = be16(bytes, 16)
    val pageSize = if (ps0 == 1) 65536 else ps0
    if (pageSize < 512 || (pageSize & (pageSize - 1)) != 0)
      throw new SqliteMalformed(s"bad page size $ps0")
    val reserved = bytes(20) & 0xff
    val enc0 = be32(bytes, 56).toInt
    val encoding = if (enc0 == 0) 1 else enc0 // 0 in empty dbs
    if (encoding < 1 || encoding > 3)
      throw new SqliteMalformed(s"bad text encoding $encoding")
    Db(bytes, pageSize, pageSize - reserved, encoding)
  }

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      embedded: (Option[String], Array[Byte]) => Unit = (_, _) => ()): Unit = {
    val db = open(bytes)
    meta.set("sqlite:application_id", be32(bytes, 68).toString)
    meta.set("sqlite:user_version", be32(bytes, 60).toString)
    val ts = tables(bytes)
    ts.foreach { t =>
      sink.chars(t.name)
      sink.newline()
      // INTEGER PRIMARY KEY alias: the column stores NULL, the value is
      // the rowid (fileformat2 §2.1; the reference's JDBC view shows it)
      val pkAlias = "(?i)integer\\s+primary\\s+key".r
        .findFirstIn(t.sql).isDefined
      var rows = 0L
      walkTable(db, t.rootPage, { (rowid, rec) =>
        val cells = rec.zipWithIndex.map {
          case (VNull, 0) if pkAlias => rowid.toString
          case (v, _) => renderValue(v)
        }
        sink.chars(cells.mkString("\t"))
        sink.newline()
        // BLOB cells recurse as embedded documents, like the reference's
        // JDBCTableReader.handleBlob path
        rec.zipWithIndex.foreach {
          case (VBlob(data), col) if data.nonEmpty =>
            embedded(Some(s"${t.name}_${rowid}_$col.bin"), data)
          case _ => ()
        }
        rows += 1
      })
      meta.add(s"sqlite:table:${t.name}:rows", rows.toString)
    }
    if (ts.isEmpty) meta.set("sqlite:tables", "0")
  }
}
