package graft.db

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian.{le16, le32, le64, leInt}

/** Microsoft Access (Jet 3/4 and ACE) table extraction.
  *
  * Reference semantics: tika-parsers .../microsoft/JackcessParser.java —
  * every user table renders as its name, a header row of column names,
  * and one line per record (rich-text memo fields markup-stripped). The
  * reference delegates to the external Jackcess library; this reader is
  * built from the public Jet format notes (MDB Tools HACKING document)
  * and validated against the reference's real .mdb/.accdb fixtures:
  *
  *  - page 0 carries the version (0 = Jet3 / Access 97 at 2 KiB pages,
  *    1 = Jet4 / 2000-2003, 2+ = ACE / .accdb, both at 4 KiB);
  *  - page 2 is the MSysObjects catalog TDEF; its rows name every user
  *    table (Type & 0x7F == 1, Flags == 0) and point at the table's
  *    TDEF page;
  *  - data pages (type 0x01) reference their TDEF page, so table rows
  *    are collected by a single linear page scan — no usage-map walk;
  *  - rows pack fixed columns at declared offsets, then variable
  *    columns located by a trailing offset table (u16 entries in Jet4;
  *    u8 entries plus 256-byte jump marks in Jet3) before the null mask;
  *  - TEXT is UTF-16LE in Jet4 (0xFFFE prefix = per-run compressed) and
  *    cp1252 in Jet3; MEMO values are inline or chained through LVAL
  *    pages; row slots flagged 0x4000 are pointers to overflow pages.
  */
object AccessExtractor {

  private final case class Col(name: String, tpe: Int, colnum: Int,
      offV: Int, offF: Int, len: Int, fixed: Boolean)
  private final case class TDef(page: Int, nvar: Int, cols: Vector[Col])

  /** OLE 1.0 embedded-object envelope (0x1C15 header, OLEVersion,
    * FormatID 2 = embedded, class/topic/item names, native size+data):
    * returns (className, nativeData) for embedded objects.
    */
  private def ole1Native(blob: Array[Byte]): Option[(String, Array[Byte])] = {
    try {
      if (blob.length < 24 || le16(blob, 0) != 0x1c15) return None
      val o = le16(blob, 2)
      if (le32(blob, o) != 0x501L || le32(blob, o + 4) != 2L) return None
      val cl = le32(blob, o + 8).toInt
      val cls = new String(blob, o + 12, math.max(cl - 1, 0), "windows-1252")
      var p = o + 12 + cl
      p += 4 + le32(blob, p).toInt // topic
      p += 4 + le32(blob, p).toInt // item
      val n = le32(blob, p).toInt
      if (n <= 0 || p + 4 + n > blob.length) None
      else Some((cls,
        java.util.Arrays.copyOfRange(blob, p + 4, p + 4 + n)))
    } catch { case _: Exception => None }
  }

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (String, Array[Byte]) => Unit = (_, _) => ()): Unit = {
    if (bytes.length < 0x20) throw new IllegalArgumentException("truncated")
    val version = bytes(0x14) & 0xff
    val jet3 = version == 0
    val ps = if (jet3) 2048 else 4096
    meta.set("access:version",
      if (jet3) "jet3" else if (version == 1) "jet4" else s"ace$version")
    val nPages = bytes.length / ps

    def text(data: Array[Byte], from: Int, until: Int): String = {
      val n = math.max(until - from, 0)
      if (jet3)
        new String(data, from, n, "windows-1252")
      else if (n >= 2 && (data(from) & 0xff) == 0xff &&
          (data(from + 1) & 0xff) == 0xfe) {
        // per-run compressed: 0x00 toggles 1-byte/2-byte mode
        val sb = new StringBuilder
        var i = from + 2
        var compressed = true
        while (i < until) {
          if (compressed) {
            val c = data(i) & 0xff
            if (c == 0) { compressed = false; i += 1 }
            else { sb.append(c.toChar); i += 1 }
          } else {
            if (i + 1 < until && data(i) == 0 && data(i + 1) == 0) {
              compressed = true; i += 2
            } else if (i + 1 < until) {
              sb.append(new String(data, i, 2,
                java.nio.charset.StandardCharsets.UTF_16LE))
              i += 2
            } else i = until
          }
        }
        sb.toString
      } else
        new String(data, from, n - (n & 1),
          java.nio.charset.StandardCharsets.UTF_16LE)
    }

    def parseTdef(pg: Int): Option[TDef] = {
      val base = pg * ps
      if (pg <= 0 || pg >= nPages || bytes(base) != 2) return None
      try {
        val (nvar, nc, nri, colBase, colSz) =
          if (jet3)
            (le16(bytes, base + 0x17), le16(bytes, base + 0x19), le32(bytes, base + 0x1f).toInt,
              0x2b, 18)
          else
            (le16(bytes, base + 0x2b), le16(bytes, base + 0x2d), le32(bytes, base + 0x33).toInt,
              0x3f, 25)
        if (nc <= 0 || nc > 512 || nri < 0 || nri > 256) return None
        var off = base + colBase + nri * (if (jet3) 8 else 12)
        val raw = Vector.newBuilder[(Int, Int, Int, Int, Int, Boolean)]
        var i = 0
        while (i < nc) {
          if (jet3)
            raw += ((bytes(off) & 0xff, le16(bytes, off + 1), le16(bytes, off + 3),
              le16(bytes, off + 14), le16(bytes, off + 16), (bytes(off + 13) & 1) != 0))
          else
            raw += ((bytes(off) & 0xff, le16(bytes, off + 5), le16(bytes, off + 7),
              le16(bytes, off + 21), le16(bytes, off + 23), (bytes(off + 15) & 1) != 0))
          off += colSz
          i += 1
        }
        val cols = raw.result().map { case (t, cn, ov, of, ln, fx) =>
          val name =
            if (jet3) {
              val n = bytes(off) & 0xff
              val s = new String(bytes, off + 1, n, "windows-1252")
              off += 1 + n
              s
            } else {
              val n = le16(bytes, off)
              val s = new String(bytes, off + 2, n,
                java.nio.charset.StandardCharsets.UTF_16LE)
              off += 2 + n
              s
            }
          Col(name, t, cn, ov, of, ln, fx)
        }
        Some(TDef(pg, nvar, cols))
      } catch { case _: Exception => None }
    }

    // (start, end) extents of row `slot` on data page `pg`, or None
    def rowExtent(pg: Int, slot: Int): Option[(Int, Int, Boolean)] = {
      val base = pg * ps
      val offBase = if (jet3) 0x0a else 0x0e
      val nrows = le16(bytes, base + (if (jet3) 8 else 0x0c))
      if (slot >= nrows) return None
      val o = le16(bytes, base + offBase + 2 * slot)
      val start = o & 0x1fff
      val end =
        if (slot == 0) ps
        else le16(bytes, base + offBase + 2 * (slot - 1)) & 0x1fff
      if (start >= end || end > ps) None
      else Some((base + start, base + end, (o & 0x4000) != 0))
    }

    def lvalRow(ptr: Long): Option[(Int, Int)] = {
      val pg = (ptr >> 8).toInt
      val slot = (ptr & 0xff).toInt
      if (pg <= 0 || pg >= nPages || bytes(pg * ps) != 1) return None
      rowExtent(pg, slot).map { case (s, e, _) => (s, e) }
    }

    def memoBytes(d: Array[Byte], from: Int, until: Int): Array[Byte] = {
      if (until - from < 12) return Array.emptyByteArray
      val head = le32(d, from)
      val len = (head & 0x3fffffffL).toInt
      if ((head & 0x80000000L) != 0) // inline
        java.util.Arrays.copyOfRange(d, from + 12,
          math.min(from + 12 + len, until))
      else {
        val out = new java.io.ByteArrayOutputStream()
        var ptr = le32(d, from + 4)
        val single = (head & 0x40000000L) != 0
        var hops = 0
        while (ptr != 0 && out.size < len && hops < 4096) {
          hops += 1
          lvalRow(ptr) match {
            case Some((s, e)) =>
              if (single) { out.write(bytes, s, math.min(len, e - s)); ptr = 0 }
              else {
                ptr = le32(bytes, s) // chain: next pointer leads the record
                out.write(bytes, s + 4, e - s - 4)
              }
            case None => ptr = 0
          }
        }
        val t = out.toByteArray
        if (t.length > len) java.util.Arrays.copyOf(t, len) else t
      }
    }

    def memoText(d: Array[Byte], from: Int, until: Int): String = {
      val t = memoBytes(d, from, until)
      text(t, 0, t.length)
    }

    /** Database property blob (`KKD`+NUL Jet3 / `MR2`+NUL Jet4+):
      * blocks of (u32 len, u16 type); type 0x0080 is the name table,
      * others hold (u16 entryLen, u8 flag, u8 valType, u16 nameIdx,
      * u16 valLen, value) entries — the Jackcess PropertyMaps surface
      * behind Database.getSummaryInfo.
      */
    def parseProps(d: Array[Byte]): Map[String, String] = {
      if (d.length < 8) return Map.empty
      val names = scala.collection.mutable.ArrayBuffer[String]()
      val out = Map.newBuilder[String, String]
      var p = 4
      while (p + 6 <= d.length) {
        val blockLen = le32(d, p).toInt
        val blockType = le16(d, p + 4)
        val end = math.min(p + blockLen, d.length)
        if (blockLen < 6) return out.result()
        var q = p + 6
        if (blockType == 0x0080) {
          while (q + 2 <= end) {
            val n = le16(d, q)
            if (q + 2 + (if (jet3) n else n) > end) { q = end }
            else {
              names += (if (jet3)
                new String(d, q + 2, n, "windows-1252")
              else {
                // Jet4 names are counted UTF-16 or compressed text
                text(d, q + 2, q + 2 + n)
              })
              q += 2 + n
            }
          }
        } else {
          while (q + 8 <= end) {
            val entryLen = le16(d, q)
            if (entryLen < 6 || q + entryLen > end) { q = end }
            else if (entryLen < 8) q += entryLen // block preamble entry
            else {
              val valType = d(q + 3) & 0xff
              val nameIdx = le16(d, q + 4)
              val valLen = le16(d, q + 6)
              if (valType == 0x0a && q + 8 + valLen <= end &&
                  nameIdx < names.length) {
                val v = text(d, q + 8, q + 8 + valLen)
                out += names(nameIdx) -> v
              }
              q += entryLen
            }
          }
        }
        p = end
      }
      out.result()
    }

    def renderDate(days: Double): String = {
      val epoch = java.time.LocalDateTime.of(1899, 12, 30, 0, 0)
      val secs = math.round(days * 86400.0)
      val dt = epoch.plusSeconds(secs)
      if (dt.toLocalTime == java.time.LocalTime.MIDNIGHT)
        dt.toLocalDate.toString
      else dt.toLocalDate.toString + " " + dt.toLocalTime.toString
    }

    def stripMarkup(s: String): String =
      if (s.contains('<') && s.contains('>'))
        s.replaceAll("<[^>]*>", "").replace("&amp;", "&")
          .replace("&lt;", "<").replace("&gt;", ">")
          .replace("&nbsp;", " ").trim
      else s

    /** Variable-column offset table (relative to row start). */
    def varOffsets(start: Int, end: Int, td: TDef): Array[Int] = {
      val nc = if (jet3) bytes(start) & 0xff else le16(bytes, start)
      val bmsz = (nc + 7) / 8
      if (td.nvar == 0) Array.empty
      else if (jet3) {
        val rowLen = end - start
        var numJumps = (rowLen - 1) / 256
        val colPtr0 = end - bmsz - numJumps - 1
        if ((colPtr0 - start - (bytes(colPtr0) & 0xff)) / 256 < numJumps)
          numJumps -= 1
        val colPtr = end - bmsz - numJumps - 1
        val nvarRow = bytes(colPtr) & 0xff
        val offs = new Array[Int](nvarRow + 1)
        var jumpsUsed = 0
        var i = 0
        while (i <= nvarRow) {
          while (jumpsUsed < numJumps &&
              i == (bytes(end - bmsz - jumpsUsed - 1) & 0xff))
            jumpsUsed += 1
          offs(i) = (bytes(colPtr - i - 1) & 0xff) + jumpsUsed * 256
          i += 1
        }
        offs
      } else {
        val nvarRow = le16(bytes, end - bmsz - 2)
        if (nvarRow < 0 || nvarRow > 512) return Array.empty
        val offs = new Array[Int](nvarRow + 1)
        var i = 0
        while (i <= nvarRow) {
          offs(i) = le16(bytes, end - bmsz - 4 - i * 2)
          i += 1
        }
        offs
      }
    }

    /** Byte extent of one column's value in a row (for raw LV reads). */
    def colExtent(start: Int, end: Int, td: TDef, c: Col): Option[(Int, Int)] = {
      val nc = if (jet3) bytes(start) & 0xff else le16(bytes, start)
      val dataStart = start + (if (jet3) 1 else 2)
      val bmsz = (nc + 7) / 8
      val nn = c.colnum / 8 < bmsz &&
        ((bytes(end - bmsz + c.colnum / 8) >> (c.colnum % 8)) & 1) != 0
      if (!nn) return None
      if (c.fixed) Some((dataStart + c.offF, dataStart + c.offF + c.len))
      else {
        val vo = varOffsets(start, end, td)
        if (c.offV < vo.length - 1)
          Some((start + vo(c.offV), start + vo(c.offV + 1)))
        else None
      }
    }

    /** Decode one row against its table definition. */
    def decodeRow(start: Int, end: Int, td: TDef): Vector[String] = {
      val nc = if (jet3) bytes(start) & 0xff else le16(bytes, start)
      val dataStart = start + (if (jet3) 1 else 2)
      val bmsz = (nc + 7) / 8
      def notNull(cn: Int): Boolean =
        cn / 8 < bmsz &&
          ((bytes(end - bmsz + cn / 8) >> (cn % 8)) & 1) != 0
      // variable-column offset table (absolute within the row)
      val varOffs: Array[Int] = varOffsets(start, end, td)

      td.cols.map { c =>
        if (c.tpe == 1) { // boolean lives in the null mask
          if (notNull(c.colnum)) "true" else "false"
        } else if (!notNull(c.colnum)) ""
        else {
          val (f, u) =
            if (c.fixed) (dataStart + c.offF, dataStart + c.offF + c.len)
            else if (c.offV < varOffs.length - 1)
              (start + varOffs(c.offV), start + varOffs(c.offV + 1))
            else (0, 0)
          if (u <= f || u > end) ""
          else {
            c.tpe match {
              case 2 => (bytes(f) & 0xff).toString
              case 3 => le16(bytes, f).toShort.toString
              case 4 => leInt(bytes, f).toString
              case 5 => // currency: scaled 1e4 long
                val v = java.math.BigDecimal.valueOf(le64(bytes, f), 4)
                  .stripTrailingZeros()
                v.toPlainString
              case 6 =>
                val v = java.lang.Float.intBitsToFloat(leInt(bytes, f))
                if (v == math.rint(v)) v.toLong.toString else v.toString
              case 7 =>
                val v = java.lang.Double.longBitsToDouble(le64(bytes, f))
                if (v == math.rint(v)) v.toLong.toString else v.toString
              case 8 => renderDate(java.lang.Double.longBitsToDouble(le64(bytes, f)))
              case 10 => text(bytes, f, u)
              case 12 => stripMarkup(memoText(bytes, f, u))
              case 15 => // GUID
                if (u - f >= 16)
                  String.format("{%08x-%04x-%04x-%s-%s}", le32(bytes, f),
                    le16(bytes, f + 4), le16(bytes, f + 6),
                    (8 until 10).map(i => f"${bytes(f + i) & 0xff}%02x").mkString,
                    (10 until 16).map(i => f"${bytes(f + i) & 0xff}%02x").mkString)
                else ""
              case _ => "" // OLE/binary/unknown: no text surface
            }
          }
        }
      }
    }

    // --- catalog: MSysObjects at page 2 --------------------------------
    val catalog = parseTdef(2)
      .getOrElse(throw new IllegalArgumentException("no MSysObjects TDEF"))
    def colIdx(n: String) = catalog.cols.indexWhere(_.name.equalsIgnoreCase(n))
    val iName = colIdx("Name"); val iType = colIdx("Type")
    val iFlags = colIdx("Flags"); val iId = colIdx("Id")
    if (iName < 0 || iType < 0 || iId < 0)
      throw new IllegalArgumentException("catalog missing columns")

    // gather rows for a tdef page by one scan; slots flagged overflow are
    // pointers (their targets are data-page rows visited directly)
    def tableRows(tdefPg: Int): Vector[(Int, Int)] = {
      val out = Vector.newBuilder[(Int, Int)]
      var pg = 1
      while (pg < nPages) {
        val base = pg * ps
        if (bytes(base) == 1 && le32(bytes, base + 4) == tdefPg) {
          val nrows = le16(bytes, base + (if (jet3) 8 else 0x0c))
          var slot = 0
          while (slot < nrows && slot < 1024) {
            val o = le16(bytes, base + (if (jet3) 0x0a else 0x0e) + 2 * slot)
            if ((o & 0x8000) == 0) {
              rowExtent(pg, slot).foreach { case (s, e, ovf) =>
                if (ovf) {
                  // 4-byte pointer to the real row on an overflow page
                  if (e - s >= 4) {
                    val ptr = le32(bytes, s)
                    val tpg = (ptr >> 8).toInt
                    val tslot = (ptr & 0xff).toInt
                    if (tpg > 0 && tpg < nPages && bytes(tpg * ps) == 1)
                      rowExtent(tpg, tslot).foreach { case (s2, e2, _) =>
                        out += ((s2, e2))
                      }
                  }
                } else out += ((s, e))
              }
            }
            slot += 1
          }
        }
        pg += 1
      }
      out.result()
    }

    // SummaryInfo database properties → document metadata (the
    // reference's JackcessParser summary-properties surface)
    val iLvProp = colIdx("LvProp")
    if (iLvProp >= 0) {
      val lvCol = catalog.cols(iLvProp)
      tableRows(2).foreach { case (s, e) =>
        try {
          if (decodeRow(s, e, catalog)(iName) == "SummaryInfo")
            colExtent(s, e, catalog, lvCol).foreach { case (f, u) =>
              val props = parseProps(memoBytes(bytes, f, u))
              props.get("Title").foreach(meta.set("dc:title", _))
              props.get("Author").foreach(meta.set("dc:creator", _))
              props.get("Company")
                .foreach(meta.set("extended-properties:Company", _))
              props.get("Subject").foreach(meta.set("dc:subject", _))
            }
        } catch { case _: Exception => () }
      }
    }

    val userTables = tableRows(2).flatMap { case (s, e) =>
      try {
        val v = decodeRow(s, e, catalog)
        val name = v(iName)
        val tpe = v(iType).toIntOption.getOrElse(0)
        val flags = if (iFlags >= 0) v(iFlags).toLongOption.getOrElse(0L) else 0L
        val id = v(iId).toLongOption.getOrElse(0L)
        if ((tpe & 0x7f) == 1 && flags == 0 && name.nonEmpty &&
            !name.startsWith("MSys") && !name.startsWith("~"))
          Some((name, (id & 0xffffffL).toInt))
        else None
      } catch { case _: Exception => None }
    }.distinct.sortBy(_._1)

    var emitted = false
    userTables.foreach { case (name, tdefPg) =>
      parseTdef(tdefPg).foreach { td =>
        sink.chars(name)
        sink.newline()
        td.cols.foreach { c => sink.tab(); sink.chars(c.name) }
        sink.newline()
        val oleCols = td.cols.filter(_.tpe == 11)
        tableRows(tdefPg).foreach { case (s, e) =>
          try {
            val vals = decodeRow(s, e, td)
            vals.foreach { v => sink.tab(); sink.chars(v) }
            sink.newline()
            // OLE columns: unwrap the OLE 1.0 envelope and hand the
            // native payload to embedded-document recursion
            // (JackcessParser's OleBlob handling)
            oleCols.foreach { c =>
              colExtent(s, e, td, c).foreach { case (f, u) =>
                val blob = memoBytes(bytes, f, u)
                ole1Native(blob).foreach { case (cls, native) =>
                  child(cls, native)
                }
              }
            }
          } catch { case _: Exception => () } // skip undecodable rows
        }
        sink.newline()
        emitted = true
      }
    }
    if (!emitted)
      throw new IllegalArgumentException("no user tables decoded")
  }
}
