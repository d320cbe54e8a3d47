package graft.sci

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import graft.engine.MetaSink
import graft.core.Endian

/** HDF4 / HDF5 metadata extraction.
  *
  * Reference behavior: tika-parsers-extended
  * .../hdf/HDFParser.java — opens the file through UCAR NetCDF-Java,
  * sets `hdf:File-Type-Description`, then walks the root group and every
  * subgroup adding each GROUP attribute under its bare name (string
  * attributes verbatim, numeric attributes as
  * `String.valueOf(getNumericValue())` = the FIRST element rendered by
  * its boxed Java type); the XHTML body is empty. Variable attributes
  * are never visited. NetCDF-Java's HDF4 layer additionally synthesizes
  * `_History` = "Direct read of HDF4 file through CDM library"
  * (H4header behavior, pinned by HDFParserTest).
  *
  * Here both on-disk formats are walked directly from the public specs:
  *  - HDF5 (classic v0/v1 superblock): root symbol-table entry → v1
  *    object headers → messages; groups via symbol-table message →
  *    v1 B-tree (TREE/SNOD) + local heap (HEAP); attributes from
  *    message 0x000C (v1-v3) with fixed-point / float / fixed-string
  *    datatypes. Only headers and heaps are touched — never dataset
  *    payloads — so cost is O(metadata) regardless of file size.
  *  - HDF4 (big-endian tag/ref DD list): Vgroup (tag 1965) membership
  *    decides attribute scope — `Attr0.0` Vdatas (tag 1962/1963) owned
  *    by the file-level `CDF0.0` Vgroup (or claimed by no Var/Dim
  *    group) are the global attributes tika reports.
  */
object HdfExtractor {

  final class HdfMalformed(msg: String) extends Exception(msg)

  private val MaxAttrs = 10000
  private val MaxGroups = 4096
  private val MaxDepth = 24

  def extract(bytes: Array[Byte], meta: MetaSink): Unit = {
    if (bytes.length >= 8 && bytes(0) == 0x89.toByte && bytes(1) == 'H' &&
        bytes(2) == 'D' && bytes(3) == 'F' && bytes(4) == 0x0d &&
        bytes(5) == 0x0a && bytes(6) == 0x1a)
      hdf5(bytes, meta)
    else if (bytes.length >= 4 && bytes(0) == 0x0e && bytes(1) == 0x03 &&
        bytes(2) == 0x13 && bytes(3) == 0x01)
      hdf4(bytes, meta)
    else throw new HdfMalformed("not an HDF4/HDF5 signature")
  }

  // ==== HDF5 (classic superblock, symbol-table groups) ================

  private val Undef = -1L // 0xFF..FF offsets render as -1 in a signed long

  private final class H5(val b: Array[Byte]) {
    def need(o: Long, n: Long): Unit =
      if (o < 0 || n < 0 || o > b.length - n) throw new HdfMalformed("oob")
    def u8(o: Long): Int = { need(o, 1); b(o.toInt) & 0xff }
    def u16(o: Long): Int = { need(o, 2); Endian.le16(b, o.toInt) }
    def u32(o: Long): Long = { need(o, 4); Endian.le32(b, o.toInt) }
    def u64(o: Long): Long = { need(o, 8); Endian.le64(b, o.toInt) }
    def cstr(o: Long): String = {
      need(o, 1)
      var e = o.toInt
      while (e < b.length && b(e) != 0) e += 1
      new String(b, o.toInt, e - o.toInt, StandardCharsets.UTF_8)
    }
  }

  private def hdf5(bytes: Array[Byte], meta: MetaSink): Unit = {
    // same string NetCDF-Java's H5 layer reports (parallel to the
    // HDF4 one HDFParserTest pins)
    meta.set("hdf:File-Type-Description", "Hierarchical Data Format, version 5")
    val h = new H5(bytes)
    val sbVer = h.u8(8)
    if (sbVer > 1) return // v2/v3 superblocks (1.8+ dense layout) — header only
    val sizeOff = h.u8(13)
    val sizeLen = h.u8(14)
    if (sizeOff != 8 || sizeLen != 8) return // spec allows 4; unseen in practice
    // v1 inserts 2×u16 (indexed-storage k) before the root STE
    val steOff = if (sbVer == 0) 56L else 60L
    val rootHdr = h.u64(steOff + 8)
    val seen = mutable.Set[Long]()
    var nAttrs = 0
    var nGroups = 0

    def fmtFixed(o: Long, size: Int, signed: Boolean,
        bigEndian: Boolean): String = {
      // datatype bit-field bit 0 selects the byte order (HDF5 spec IV.A.2)
      var v = 0L
      if (bigEndian) {
        var i = 0
        while (i < size) { v = (v << 8) | h.u8(o + i); i += 1 }
      } else {
        var i = size - 1
        while (i >= 0) { v = (v << 8) | h.u8(o + i); i -= 1 }
      }
      if (signed && size < 8) {
        val shift = 64 - size * 8
        v = (v << shift) >> shift
      }
      v.toString
    }

    // one attribute message body (versions 1-3)
    def attrMessage(o: Long, len: Int, path: String): Unit = {
      val ver = h.u8(o)
      if (ver < 1 || ver > 3) return
      if (ver >= 2 && (h.u8(o + 1) & 0x03) != 0) return // shared dt/ds
      val nameSz = h.u16(o + 2)
      val dtSz = h.u16(o + 4)
      val dsSz = h.u16(o + 6)
      var p = o + 8 + (if (ver == 3) 1 else 0) // v3: name charset byte
      def align(n: Int): Int = if (ver == 1) (n + 7) & ~7 else n
      h.need(p, nameSz)
      val name = h.cstr(p)
      p += align(nameSz)
      val dtOff = p
      p += align(dtSz)
      p += align(dsSz)
      if (p > o + len) return
      // datatype: class+version byte, 24 bit-field bits, u32 size
      val cls = h.u8(dtOff) & 0x0f
      val bits0 = h.u8(dtOff + 1)
      val tSize = h.u32(dtOff + 4)
      if (tSize <= 0 || tSize > (1 << 24)) return
      val value: String = cls match {
        case 3 => // fixed-length string: up to first NUL
          val n = math.min(tSize, (o + len - p)).toInt
          if (n < 0) return
          var e = 0
          while (e < n && h.u8(p + e) != 0) e += 1
          new String(h.b, p.toInt, e, StandardCharsets.UTF_8)
        case 0 => // fixed-point, first element, boxed-type rendering
          val sz = tSize.toInt
          if (sz != 1 && sz != 2 && sz != 4 && sz != 8) return
          h.need(p, sz)
          fmtFixed(p, sz, signed = (bits0 & 0x08) != 0,
            bigEndian = (bits0 & 0x01) != 0)
        case 1 => // IEEE float, first element (bit-field bit 0 = order)
          def bitsOf(sz: Int): Long = {
            var v = 0L
            if ((bits0 & 0x01) != 0) {
              var i = 0
              while (i < sz) { v = (v << 8) | h.u8(p + i); i += 1 }
            } else {
              var i = sz - 1
              while (i >= 0) { v = (v << 8) | h.u8(p + i); i -= 1 }
            }
            v
          }
          if (tSize == 4) {
            h.need(p, 4)
            java.lang.Float.intBitsToFloat(bitsOf(4).toInt).toString
          } else if (tSize == 8) {
            h.need(p, 8)
            java.lang.Double.longBitsToDouble(bitsOf(8)).toString
          } else return
        case _ => return // vlen/compound/reference: not group metadata here
      }
      nAttrs += 1
      if (nAttrs <= MaxAttrs) meta.add(name, value)
    }

    def objectHeader(addr: Long, path: String, depth: Int): Unit = {
      if (addr == Undef || depth > MaxDepth || !seen.add(addr)) return
      if (h.u8(addr) != 1) return // v2 ('OHDR') objects: none under a v0/v1 sb
      val nmsg = h.u16(addr + 2)
      val hdrSize = h.u32(addr + 8)
      val stes = mutable.ArrayBuffer[(Long, Long)]()
      // header blocks: the first starts after the 16-byte (padded) header
      var blocks = List((addr + 16, hdrSize))
      var msgs = 0
      while (blocks.nonEmpty && msgs < nmsg && msgs < 1000) {
        val (off, size) = blocks.head
        blocks = blocks.tail
        h.need(off, size)
        var p = off
        val end = off + size
        while (p + 8 <= end && msgs < nmsg) {
          val mtype = h.u16(p)
          val msize = h.u16(p + 2)
          val body = p + 8
          if (body + msize > end) { msgs = nmsg } // truncated block
          else {
            msgs += 1
            mtype match {
              case 0x0010 => // continuation
                val ca = h.u64(body); val cl = h.u64(body + 8)
                if (ca != Undef && cl > 0 && cl < (1 << 26))
                  blocks = blocks :+ (ca, cl)
              case 0x0011 => // symbol table: B-tree + local heap
                stes += ((h.u64(body), h.u64(body + 8)))
              case 0x000C =>
                attrMessage(body, msize, path)
              case _ => ()
            }
            p = body + msize
          }
        }
      }
      for ((btree, heap) <- stes) {
        nGroups += 1
        if (nGroups <= MaxGroups) {
          // local heap: sig HEAP, ver, 3 reserved, dataSize(8), free(8), data(8)
          if (h.u32(heap) == 0x50414548L) { // "HEAP"
            val heapData = h.u64(heap + 24)
            walkBtree(btree, heapData, path, depth)
          }
        }
      }
    }

    def walkBtree(addr: Long, heapData: Long, path: String, depth: Int): Unit = {
      if (addr == Undef || depth > MaxDepth) return
      val sig = h.u32(addr)
      if (sig == 0x45455254L) { // "TREE"
        if (seen.contains(addr) || !seen.add(addr)) return
        val nent = h.u16(addr + 6)
        // keys and children interleave after the two sibling pointers;
        // key size = size-of-lengths (8)
        var i = 0
        val base = addr + 8 + 16
        while (i < nent && i < 4096) {
          walkBtree(h.u64(base + 8L * (2 * i + 1)), heapData, path, depth)
          i += 1
        }
      } else if (sig == 0x444f4e53L) { // "SNOD"
        if (!seen.add(addr)) return
        val nsym = h.u16(addr + 6)
        var i = 0
        var p = addr + 8
        while (i < nsym && i < 4096) {
          val nameOff = h.u64(p)
          val hdr = h.u64(p + 8)
          val name = h.cstr(heapData + nameOff)
          objectHeader(hdr, path + "/" + name, depth + 1)
          p += 40 // 8+8+4+4+16 scratch
          i += 1
        }
      }
    }

    objectHeader(rootHdr, "", 0)
  }

  // ==== HDF4 (tag/ref DD list, Vgroup-scoped Vdata attributes) ========

  private final class H4(val b: Array[Byte]) {
    private def need(o: Int, n: Int): Unit =
      if (o < 0 || o.toLong + n > b.length) throw new HdfMalformed("oob")
    def u8(o: Int): Int = { need(o, 1); b(o) & 0xff }
    def u16(o: Int): Int = { need(o, 2); Endian.be16(b, o) }
    def i32(o: Int): Int = { need(o, 4); Endian.beInt(b, o) }
    def str(o: Int, n: Int): String = {
      if (o < 0 || n < 0 || o + n > b.length) throw new HdfMalformed("oob")
      new String(b, o, n, StandardCharsets.UTF_8)
    }
  }

  private def hdf4(bytes: Array[Byte], meta: MetaSink): Unit = {
    meta.set("hdf:File-Type-Description", "Hierarchical Data Format, version 4")
    // NetCDF-Java H4header synthesizes this on every direct HDF4 read;
    // HDFParserTest pins the exact string
    meta.set("_History", "Direct read of HDF4 file through CDM library")
    val h = new H4(bytes)
    // DD blocks: ndd(u16), next(i32), then ndd × (tag u16, ref u16,
    // offset i32, length i32); block chain terminated by next == 0
    val dds = mutable.LinkedHashMap[(Int, Int), (Int, Int)]()
    var off = 4
    var guard = 0
    while (off > 0 && guard < 4096) {
      guard += 1
      val ndd = h.u16(off)
      val next = h.i32(off + 2)
      var p = off + 6
      var i = 0
      while (i < ndd) {
        val tag = h.u16(p); val ref = h.u16(p + 2)
        val o = h.i32(p + 4); val l = h.i32(p + 8)
        if (tag != 0 && tag != 1 && o >= 0 && l >= 0)
          dds((tag, ref)) = (o, l)
        p += 12; i += 1
      }
      off = if (next > off) next else 0 // offsets must advance
    }

    // Vgroups (tag 1965 DFTAG_VG): membership decides attribute scope
    val varAttrRefs = mutable.Set[Int]()   // Attr Vdatas owned by Var/Dim groups
    val fileAttrRefs = mutable.Set[Int]()  // owned by the CDF (file) group
    for (((tag, _), (o, _)) <- dds if tag == 1965) {
      try {
        var p = o
        val nelt = h.u16(p); p += 2
        if (nelt >= 0 && nelt < 4096) {
          val mTags = (0 until nelt).map(i => h.u16(p + 2 * i)); p += 2 * nelt
          val mRefs = (0 until nelt).map(i => h.u16(p + 2 * i)); p += 2 * nelt
          val nn = h.u16(p); p += 2
          /* name = */ h.str(p, nn); p += nn
          val nc = h.u16(p); p += 2
          val cls = h.str(p, nc)
          val sink =
            if (cls.startsWith("CDF")) Some(fileAttrRefs)
            else if (cls.startsWith("Var") || cls.startsWith("Dim") ||
              cls.startsWith("UDim") || cls.startsWith("RIG")) Some(varAttrRefs)
            else None
          sink.foreach { s =>
            mTags.zip(mRefs).foreach { case (t, r) => if (t == 1962) s += r }
          }
        }
      } catch { case _: HdfMalformed => () }
    }

    var n = 0
    for (((tag, ref), (o, _)) <- dds if tag == 1962 && n < MaxAttrs) {
      try {
        // VH: interlace(2) nvert(4) ivsize(2) nfields(2), field type/
        // isize/offset/order arrays, field names, vdata name, class
        var p = o + 8
        val nfields = h.u16(p); p += 2
        if (nfields == 1) {
          val fType = h.u16(p); p += 2 * nfields // types
          p += 2 * nfields // isizes
          p += 2 * nfields // offsets
          val fOrder = h.u16(p); p += 2 * nfields // orders
          var i = 0
          while (i < nfields) { val fn = h.u16(p); p += 2 + fn; i += 1 }
          val nn = h.u16(p); p += 2
          val name = h.str(p, nn); p += nn
          val nc = h.u16(p); p += 2
          val cls = h.str(p, nc)
          if (cls.startsWith("Attr") && !varAttrRefs.contains(ref) &&
              (fileAttrRefs.isEmpty || fileAttrRefs.contains(ref))) {
            dds.get((1963, ref)).foreach { case (vo, vl) =>
              val value: Option[String] = fType match {
                case 3 | 4 => // char: one string, NULs stripped, trimmed
                  val len = math.min(fOrder, vl)
                  var e = len
                  while (e > 0 && h.u8(vo + e - 1) == 0) e -= 1
                  Some(h.str(vo, e).trim)
                case 5 =>
                  Some(java.lang.Float.intBitsToFloat(h.i32(vo)).toString)
                case 6 =>
                  val v = (h.i32(vo).toLong << 32) | (h.i32(vo + 4).toLong & 0xffffffffL)
                  Some(java.lang.Double.longBitsToDouble(v).toString)
                case 20 => Some(h.u8(vo).toByte.toString)
                case 21 => Some(h.u8(vo).toString)
                case 22 => Some(h.u16(vo).toShort.toString)
                case 23 => Some(h.u16(vo).toString)
                case 24 => Some(h.i32(vo).toString)
                case 25 => Some((h.i32(vo).toLong & 0xffffffffL).toString)
                case _ => None
              }
              value.foreach { v => n += 1; meta.add(name, v) }
            }
          }
        }
      } catch { case _: HdfMalformed => () }
    }
  }
}
