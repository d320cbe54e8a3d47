package graft.pst

import java.nio.charset.{Charset, StandardCharsets}
import java.util.Base64

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian.{le16, le32, le32Bytes, le64, leInt}

/** Outlook PST (MS-PST) extraction: NDB block/node B-trees, the
  * permutative-encoding decode, heap-on-node / BTH / property contexts,
  * and a folder→message→attachment walk.
  *
  * Reference behavior: tika-parsers microsoft-module
  * `pst/OutlookPSTParser.java` (via java-libpst) — folders become
  * headings, every mail item becomes an embedded document with
  * from/to/subject/date metadata and its plain/HTML/RTF bodies, and
  * attachments recurse under their long filenames. Here each message is
  * re-expressed as a synthesized RFC 822 child document so the whole
  * existing email chain (header metadata, body parts, attachment
  * recursion, per-document metadata scoping) applies unchanged.
  *
  * Structures follow the public MS-PST specification, BOTH formats —
  * Unicode (wVer 23, 64-bit) and ANSI (wVer 14/15, 32-bit; r5):
  * HEADER/ROOT (§2.2.2.5-6), NBT/BBT pages (§2.2.2.7), XBLOCK/SLBLOCK
  * data and subnode trees (§2.2.2.8.3), HN/BTH/PC
  * (§2.3.1-3). The permutative cipher (bCryptMethod=1, §5.1) is a fixed
  * byte substitution; the decode table below is validated end-to-end
  * against the reference's own PST fixtures in PstSpec (known-plaintext:
  * every OutlookPSTParserTest expectation string decodes byte-exact, all
  * 256 encoded byte values occur across the fixtures' 200 KB of data
  * blocks, and every heap/page-map/BTH structural invariant holds).
  * NDB_CRYPT_CYCLIC (bCryptMethod=2, rare) is recorded as unsupported.
  */
object PstExtractor {

  final class PstMalformed(msg: String) extends Exception(msg)

  /** Permutative-encoding DECODE byte substitution (MS-PST §5.1,
    * mpbbCrypt; fixture-validated — see scaladoc above). */
  private val Decode: Array[Byte] = Array[Int](
    0x47, 0xf1, 0xb4, 0xe6, 0x0b, 0x6a, 0x72, 0x48,
    0x85, 0x4e, 0x9e, 0xeb, 0xe2, 0xf8, 0x94, 0x53,
    0xe0, 0xbb, 0xa0, 0x02, 0xe8, 0x5a, 0x09, 0xab,
    0xdb, 0xe3, 0xba, 0xc6, 0x7c, 0xc3, 0x10, 0xdd,
    0x39, 0x05, 0x96, 0x30, 0xf5, 0x37, 0x60, 0x82,
    0x8c, 0xc9, 0x13, 0x4a, 0x6b, 0x1d, 0xf3, 0xfb,
    0x8f, 0x26, 0x97, 0xca, 0x91, 0x17, 0x01, 0xc4,
    0x32, 0x2d, 0x6e, 0x31, 0x95, 0xff, 0xd9, 0x23,
    0xd1, 0x00, 0x5e, 0x79, 0xdc, 0x44, 0x3b, 0x1a,
    0x28, 0xc5, 0x61, 0x57, 0x20, 0x90, 0x3d, 0x83,
    0xb9, 0x43, 0xbe, 0x67, 0xd2, 0x46, 0x42, 0x76,
    0xc0, 0x6d, 0x5b, 0x7e, 0xb2, 0x0f, 0x16, 0x29,
    0x3c, 0xa9, 0x03, 0x54, 0x0d, 0xda, 0x5d, 0xdf,
    0xf6, 0xb7, 0xc7, 0x62, 0xcd, 0x8d, 0x06, 0xd3,
    0x69, 0x5c, 0x86, 0xd6, 0x14, 0xf7, 0xa5, 0x66,
    0x75, 0xac, 0xb1, 0xe9, 0x45, 0x21, 0x70, 0x0c,
    0x87, 0x9f, 0x74, 0xa4, 0x22, 0x4c, 0x6f, 0xbf,
    0x1f, 0x56, 0xaa, 0x2e, 0xb3, 0x78, 0x33, 0x50,
    0xb0, 0xa3, 0x92, 0xbc, 0xcf, 0x19, 0x1c, 0xa7,
    0x63, 0xcb, 0x1e, 0x4d, 0x3e, 0x4b, 0x1b, 0x9b,
    0x4f, 0xe7, 0xf0, 0xee, 0xad, 0x3a, 0xb5, 0x59,
    0x04, 0xea, 0x40, 0x55, 0x25, 0x51, 0xe5, 0x7a,
    0x89, 0x38, 0x68, 0x52, 0x7b, 0xfc, 0x27, 0xae,
    0xd7, 0xbd, 0xfa, 0x07, 0xf4, 0xcc, 0x8e, 0x5f,
    0xef, 0x35, 0x9c, 0x84, 0x2b, 0x15, 0xd5, 0x77,
    0x34, 0x49, 0xb6, 0x12, 0x0a, 0x7f, 0x71, 0x88,
    0xfd, 0x9d, 0x18, 0x41, 0x7d, 0x93, 0xd8, 0x58,
    0x2c, 0xce, 0xfe, 0x24, 0xaf, 0xde, 0xb8, 0x36,
    0xc8, 0xa1, 0x80, 0xa6, 0x99, 0x98, 0xa8, 0x2f,
    0x0e, 0x81, 0x65, 0x73, 0xe4, 0xc2, 0xa2, 0x8a,
    0xd4, 0xe1, 0x11, 0xd0, 0x08, 0x8b, 0x2a, 0xf2,
    0xed, 0x9a, 0x64, 0x3f, 0xc1, 0x6c, 0xf9, 0xec).map(_.toByte)
  require(Decode.map(_ & 0xff).distinct.length == 256,
    "permute decode table must be a byte permutation")

  /** For the corpus writer (it needs the inverse/encode direction). */
  private[graft] def decodeTableCopy: Array[Byte] = Decode.clone()

  // --- MAPI property ids used by the walk ----------------------------
  private val PidMessageClass = 0x001a
  private val PidSubject = 0x0037
  private val PidClientSubmitTime = 0x0039
  private val PidSenderName = 0x0c1a
  private val PidSenderEmail = 0x0c1f
  private val PidSenderSmtp = 0x5d01
  private val PidDisplayBcc = 0x0e02
  private val PidDisplayCc = 0x0e03
  private val PidDisplayTo = 0x0e04
  private val PidDeliveryTime = 0x0e06
  private val PidBody = 0x1000
  private val PidRtfCompressed = 0x1009
  private val PidHtmlBody = 0x1013
  private val PidDisplayName = 0x3001
  private val PidCreationTime = 0x3007
  private val PidModificationTime = 0x3008
  private val PidAttachData = 0x3701
  private val PidAttachFilename = 0x3704
  private val PidAttachMethod = 0x3705
  private val PidAttachLongFilename = 0x3707

  private val MaxValueBytes = 64 << 20 // per-property budget
  private val MaxBlocks = 1 << 20

  // --- NDB ----------------------------------------------------------

  final case class NodeEntry(nid: Long, bidData: Long, bidSub: Long,
      nidParent: Long)

  /** Node database: header + B-trees + block reads over the raw file.
    *
    * Handles BOTH on-disk formats of the spec: Unicode (wVer 23,
    * 64-bit BID/IB, 16-byte page/block trailers) and ANSI (wVer 14/15,
    * 32-bit BID/IB, 12-byte trailers, narrower BTENTRY/NBTENTRY/
    * BBTENTRY/XBLOCK/SLBLOCK layouts — MS-PST §2.2.2.5-8 ANSI
    * variants). Everything above the NDB (heap-on-node, BTH, property
    * and table contexts) is format-identical and shared.
    */
  final class Ndb(d: Array[Byte]) {
    if (d.length < 512 || d(0) != '!' || d(1) != 'B' || d(2) != 'D' ||
        d(3) != 'N' || d(8) != 'S' || d(9) != 'M')
      throw new PstMalformed("bad PST header")
    val wVer = le16(d, 10)
    /** ANSI (pre-2003) 32-bit format: wVer 14 or 15. */
    val ansi: Boolean = wVer < 23
    if (wVer >= 36)
      throw new PstMalformed(s"4K-page OST (wVer=$wVer) unsupported")
    if (!ansi && d.length < 564) throw new PstMalformed("truncated header")
    val crypt = d(if (ansi) 0x1cd else 0x201) & 0xff
    if (crypt != 0 && crypt != 1)
      throw new PstMalformed(s"NDB_CRYPT method $crypt unsupported")
    private val root = if (ansi) 164 else 180
    private val nbtIb = if (ansi) le32(d, root + 24) else le64(d, root + 44)
    private val bbtIb = if (ansi) le32(d, root + 32) else le64(d, root + 60)

    val blocks = scala.collection.mutable.LongMap.empty[(Long, Int)] // bid → (ib, cb)
    val nodes = scala.collection.mutable.LongMap.empty[NodeEntry] // nid → entry

    private def walkBt(ib: Long, isNbt: Boolean, level: Int): Unit = {
      if (level > 8 || ib <= 0 || ib + 512 > d.length)
        throw new PstMalformed("B-tree page out of range")
      val o = ib.toInt
      // BTPAGE: ANSI packs 496 entry bytes with meta at 496-499 and a
      // 12-byte trailer at 500; Unicode packs 488 with meta at 488-491,
      // 4 pad bytes, and a 16-byte trailer at 496
      val metaOff = if (ansi) 496 else 488
      val cEnt = d(o + metaOff) & 0xff
      val cbEnt = d(o + metaOff + 2) & 0xff
      val cLevel = d(o + metaOff + 3) & 0xff
      val ptype = d(o + (if (ansi) 500 else 496)) & 0xff
      if (ptype != (if (isNbt) 0x81 else 0x80))
        throw new PstMalformed(f"wrong page type 0x$ptype%02x")
      if (cbEnt == 0 || cEnt * cbEnt > metaOff)
        throw new PstMalformed("bad B-tree entry sizing")
      var i = 0
      while (i < cEnt) {
        val e = o + i * cbEnt
        if (cLevel > 0)
          walkBt(if (ansi) le32(d, e + 8) else le64(d, e + 16), isNbt,
            level + 1)
        else if (isNbt) {
          if (ansi) { // ANSI NBTENTRY: nid4 bidData4 bidSub4 nidParent4
            val nid = le32(d, e)
            nodes(nid) = NodeEntry(nid, le32(d, e + 4), le32(d, e + 8),
              le32(d, e + 12))
          } else {
            val nid = le64(d, e)
            nodes(nid & 0xffffffffL) =
              NodeEntry(nid & 0xffffffffL, le64(d, e + 8), le64(d, e + 16),
                le32(d, e + 24))
          }
        } else {
          if (blocks.size > MaxBlocks) throw new PstMalformed("block bomb")
          if (ansi) // ANSI BBTENTRY: bid4 ib4 cb2 cRef2
            blocks(le32(d, e)) = (le32(d, e + 4), le16(d, e + 8))
          else
            blocks(le64(d, e)) = (le64(d, e + 8), le16(d, e + 16))
        }
        i += 1
      }
    }
    walkBt(bbtIb, isNbt = false, 0)
    walkBt(nbtIb, isNbt = true, 0)

    /** One block's payload, trailer-checked, decoded iff external. */
    def block(bid: Long): Array[Byte] = {
      val (ib, cb) = blocks.getOrElse(bid,
        throw new PstMalformed(s"unknown bid $bid"))
      // BLOCKTRAILER: ANSI cb2 wSig2 bid4 dwCRC4 (12 B);
      // Unicode cb2 wSig2 dwCRC4 bid8 (16 B)
      val tlen = if (ansi) 12 else 16
      val total = ((cb + tlen + 63) / 64) * 64
      if (ib <= 0 || ib + total > d.length)
        throw new PstMalformed("block out of range")
      val t = (ib + total - tlen).toInt
      val tbid = if (ansi) le32(d, t + 4) else le64(d, t + 8)
      if (le16(d, t) != cb || tbid != bid)
        throw new PstMalformed("block trailer mismatch")
      val out = java.util.Arrays.copyOfRange(d, ib.toInt, ib.toInt + cb)
      if ((bid & 2) == 0 && crypt == 1) {
        var i = 0
        while (i < out.length) { out(i) = Decode(out(i) & 0xff); i += 1 }
      }
      out
    }

    /** Data tree: bid → ordered external data blocks (XXBLOCK→XBLOCK). */
    def dataBlocks(bid: Long): Vector[Array[Byte]] = {
      // aggregate budget BEFORE assembling: XBLOCK/XXBLOCK entries can
      // all point at the same data bid, so a ~16 KB crafted file could
      // otherwise amplify into gigabytes of duplicated block copies
      // (the zip central-directory overlap lesson, round-3 advice)
      var budget = math.min(MaxValueBytes.toLong,
        16L * d.length + (64 << 10))
      def charge(n: Int): Unit = {
        // charge at least the 64-byte on-disk footprint so zero-length
        // blocks can't bypass the amplification budget
        budget -= math.max(n, 64)
        if (budget < 0) throw new PstMalformed("data tree amplification")
      }
      def walk(bid: Long, level: Int): Vector[Array[Byte]] = {
        if (bid == 0) return Vector.empty
        if ((bid & 2) == 0) {
          val blk = block(bid)
          charge(blk.length)
          return Vector(blk)
        }
        if (level > 2) throw new PstMalformed("data tree depth")
        val b = block(bid)
        if (b.length < 8 || b(0) != 1)
          throw new PstMalformed("expected XBLOCK")
        val cLevel = b(1) & 0xff
        val cEnt = le16(b, 2)
        val w = if (ansi) 4 else 8 // rgbid entry width
        if (8 + w * cEnt > b.length) throw new PstMalformed("XBLOCK overrun")
        val kids = Vector.tabulate(cEnt)(i =>
          if (ansi) le32(b, 8 + 4 * i) else le64(b, 8 + 8 * i))
        if (cLevel == 1) kids.map { k => val blk = block(k); charge(blk.length); blk }
        else if (cLevel == 2) kids.flatMap(walk(_, level + 1))
        else throw new PstMalformed("bad XBLOCK level")
      }
      walk(bid, 0)
    }

    /** Subnode tree: bidSub → nid32 → (bidData, bidSub). A total-entry
      * budget (not just a depth cap) blocks DAG amplification: SIBLOCK
      * entries could otherwise all reference the same child block for
      * exponential traversal within the depth limit. */
    def subnodes(bidSub: Long): Map[Long, (Long, Long)] = {
      var budget = 100000
      def walk(bidSub: Long, level: Int): Map[Long, (Long, Long)] = {
        if (bidSub == 0) return Map.empty
        if (level > 8) throw new PstMalformed("subnode depth")
        val b = block(bidSub)
        if (b.length < 8 || b(0) != 2)
          throw new PstMalformed("expected SLBLOCK")
        val cLevel = b(1) & 0xff
        val cEnt = le16(b, 2)
        budget -= cEnt
        if (budget < 0) throw new PstMalformed("subnode tree amplification")
        // ANSI SL/SIBLOCKs have no dwPadding: entries start at 4
        val base = if (ansi) 4 else 8
        if (cLevel == 0) {
          // SLENTRY: ANSI nid4 bidData4 bidSub4; Unicode nid8 bid8 bid8
          val w = if (ansi) 12 else 24
          if (base + w * cEnt > b.length)
            throw new PstMalformed("SLBLOCK overrun")
          (0 until cEnt).map { i =>
            val e = base + w * i
            if (ansi) le32(b, e) -> (le32(b, e + 4), le32(b, e + 8))
            else (le64(b, e) & 0xffffffffL) -> (le64(b, e + 8), le64(b, e + 16))
          }.toMap
        } else {
          // SIENTRY: ANSI nid4 bid4; Unicode nid8 bid8
          val w = if (ansi) 8 else 16
          if (base + w * cEnt > b.length)
            throw new PstMalformed("SIBLOCK overrun")
          (0 until cEnt).flatMap(i => walk(
            if (ansi) le32(b, base + 8 * i + 4)
            else le64(b, base + 16 * i + 8),
            level + 1)).toMap
        }
      }
      walk(bidSub, 0)
    }
  }

  // --- LTP: heap-on-node, BTH, property context ----------------------

  /** Heap-on-node over a node's ordered data blocks (MS-PST §2.3.1). */
  final class Heap(blocks: Vector[Array[Byte]]) {
    if (blocks.isEmpty || blocks(0).length < 12)
      throw new PstMalformed("empty heap node")
    if ((blocks(0)(2) & 0xff) != 0xec)
      throw new PstMalformed("bad HNHDR signature")
    val clientSig: Int = blocks(0)(3) & 0xff
    val userRoot: Long = le32(blocks(0), 4)

    /** HID → allocated bytes. */
    def apply(hid: Long): Array[Byte] = {
      if (hid == 0) return Array.emptyByteArray
      if ((hid & 0x1f) != 0) throw new PstMalformed("not a HID")
      val idx = ((hid >>> 5) & 0x7ff).toInt
      val blk = ((hid >>> 16) & 0xffff).toInt
      if (idx == 0 || blk >= blocks.length)
        throw new PstMalformed("HID out of range")
      val b = blocks(blk)
      if (b.length < 2) throw new PstMalformed("bad heap block")
      val ibHnpm = le16(b, 0)
      if (ibHnpm < 0 || ibHnpm + 4 > b.length)
        throw new PstMalformed("bad HNPAGEMAP")
      val cAlloc = le16(b, ibHnpm)
      if (idx > cAlloc) throw new PstMalformed("HID alloc out of range")
      // the claimed offset array must actually fit inside the block
      if (ibHnpm + 4 + 2 * (cAlloc + 1) > b.length)
        throw new PstMalformed("HNPAGEMAP overruns block")
      val start = le16(b, ibHnpm + 4 + 2 * (idx - 1))
      val end = le16(b, ibHnpm + 4 + 2 * idx)
      if (start > end || end > b.length) throw new PstMalformed("bad alloc")
      java.util.Arrays.copyOfRange(b, start, end)
    }
  }

  /** BTH record iteration (MS-PST §2.3.2): returns raw fixed-size
    * (key+data) records in key order. A total-record budget blocks DAG
    * amplification (index records repeatedly referencing one child HID
    * would otherwise give B^levels traversal work inside the level cap). */
  private def bthRecords(heap: Heap, hidHeader: Long): Vector[Array[Byte]] = {
    val h = heap(hidHeader)
    if (h.length < 8 || (h(0) & 0xff) != 0xb5)
      throw new PstMalformed("bad BTHHEADER")
    val cbKey = h(1) & 0xff
    val cbEnt = h(2) & 0xff
    val levels = h(3) & 0xff
    val hidRoot = le32(h, 4)
    val rec = cbKey + cbEnt
    if (rec == 0) throw new PstMalformed("zero BTH record")
    if (levels > 8) throw new PstMalformed("BTH depth")
    var budget = 200000
    def walk(hid: Long, level: Int): Vector[Array[Byte]] = {
      if (hid == 0) return Vector.empty
      val data = heap(hid)
      if (level > 0) {
        val sz = cbKey + 4
        budget -= data.length / sz
        if (budget < 0) throw new PstMalformed("BTH amplification")
        (0 until data.length / sz).toVector.flatMap { i =>
          walk(le32(data, i * sz + cbKey), level - 1)
        }
      } else {
        budget -= data.length / rec
        if (budget < 0) throw new PstMalformed("BTH amplification")
        (0 until data.length / rec).toVector.map { i =>
          java.util.Arrays.copyOfRange(data, i * rec, (i + 1) * rec)
        }
      }
    }
    walk(hidRoot, levels)
  }

  /** One property value: type + resolved bytes (inline/heap/subnode). */
  final case class PropValue(ptype: Int, raw: Long, bytes: Array[Byte])

  /** Property context (MS-PST §2.3.3) over one node. */
  /** HNID resolution (§2.3.3.2), shared by PC and TC: HID → heap
    * alloc; NID → concatenated subnode data blocks (budgeted). */
  private def resolveHnid(ndb: Ndb, heap: Heap,
      subs: Map[Long, (Long, Long)], v: Long): Array[Byte] =
    if (v == 0) Array.emptyByteArray
    else if ((v & 0x1f) == 0) heap(v)
    else subs.get(v) match {
      case Some((bidData, _)) =>
        val bs = ndb.dataBlocks(bidData)
        val total = bs.map(_.length.toLong).sum
        if (total > MaxValueBytes) throw new PstMalformed("value too large")
        val out = new Array[Byte](total.toInt)
        var o = 0
        bs.foreach { b => System.arraycopy(b, 0, out, o, b.length); o += b.length }
        out
      case None => Array.emptyByteArray
    }

  /** String decode for PtypString/PtypString8 values (NUL-stripped). */
  private def decodeStr(pv: PropValue): Option[String] =
    (pv.ptype match {
      case 0x1f => Some(new String(pv.bytes, StandardCharsets.UTF_16LE))
      case 0x1e => Some(new String(pv.bytes, Cp1252))
      case _ => None
    }).map(_.takeWhile(_ != '\u0000')).filter(_.nonEmpty)

  final class Pc(ndb: Ndb, heap: Heap, subs: Map[Long, (Long, Long)]) {
    if (heap.clientSig != 0xbc) throw new PstMalformed("not a PC heap")
    val props: Map[Int, PropValue] = bthRecords(heap, heap.userRoot).flatMap {
      r =>
        if (r.length < 8) None
        else {
          val pid = le16(r, 0)
          val ptype = le16(r, 2)
          val v = le32(r, 4)
          try Some(pid -> PropValue(ptype, v, resolve(ptype, v)))
          catch { case _: PstMalformed => None }
        }
    }.toMap

    private def resolve(ptype: Int, v: Long): Array[Byte] = ptype match {
      case 0x02 | 0x03 | 0x0b | 0x0a | 0x01 | 0x00 => // inline ≤4 bytes
        le32Bytes(v)
      case _ => resolveHnid(ndb, heap, subs, v)
    }

    def str(pid: Int): Option[String] = props.get(pid).flatMap(decodeStr)

    def bin(pid: Int): Option[Array[Byte]] =
      props.get(pid).filter(p => p.ptype == 0x102 || p.ptype == 0x0d)
        .map(_.bytes).filter(_.nonEmpty)

    def int32(pid: Int): Option[Int] =
      props.get(pid).filter(_.ptype == 0x03).map(p => leInt(p.bytes, 0))

    def time(pid: Int): Option[Long] = // FILETIME
      props.get(pid).filter(p => p.ptype == 0x40 && p.bytes.length >= 8)
        .map(p => le64(p.bytes, 0))
  }

  private val Cp1252 = Charset.forName("windows-1252")

  /** Table context (MS-PST §2.3.4): fixed-width row matrix + column
    * descriptors. Minimal reader — enough for the recipients table
    * (email address / display name / recipient type per row). */
  final class Tc(ndb: Ndb, heap: Heap, subs: Map[Long, (Long, Long)]) {
    if (heap.clientSig != 0x7c) throw new PstMalformed("not a TC heap")
    private val info = heap(heap.userRoot)
    if (info.length < 22 || (info(0) & 0xff) != 0x7c)
      throw new PstMalformed("bad TCINFO")
    private val cCols = info(1) & 0xff
    private val rowWidth = le16(info, 8) // rgib[TCI_bm]: full row width
    private val end1b = le16(info, 6)    // start of the cell-existence map
    private val hidRowIndex = le32(info, 10)
    private val hnidRows = le32(info, 14)
    private val cols: Vector[(Int, Int, Int, Int)] = // (ptype, pid, ib, iBit)
      Vector.tabulate(cCols) { i =>
        val o = 22 + 8 * i
        if (o + 8 > info.length) throw new PstMalformed("TCOLDESC overrun")
        (le16(info, o), le16(info, o + 2), le16(info, o + 4), info(o + 7) & 0xff)
      }

    /** All rows as propId → PropValue (present cells only). */
    def rows: Vector[Map[Int, PropValue]] = {
      if (hnidRows == 0 || rowWidth == 0) return Vector.empty
      val nRows =
        try bthRecords(heap, hidRowIndex).length
        catch { case _: PstMalformed => 0 }
      val blocks: Vector[Array[Byte]] =
        if ((hnidRows & 0x1f) == 0) Vector(heap(hnidRows))
        else subs.get(hnidRows).map(s => ndb.dataBlocks(s._1))
          .getOrElse(Vector.empty)
      val out = Vector.newBuilder[Map[Int, PropValue]]
      var emitted = 0
      blocks.foreach { b =>
        var r = 0
        while ((r + 1) * rowWidth <= b.length && emitted < nRows &&
            emitted < 100000) {
          val base = r * rowWidth
          val m = Map.newBuilder[Int, PropValue]
          cols.foreach { case (ptype, pid, ib, iBit) =>
            val cebOff = base + end1b + (iBit >> 3)
            val need = ptype match {
              case 0x02 => 2
              case 0x14 | 0x40 | 0x05 => 8
              case _ => 4
            }
            val present = cebOff < base + rowWidth &&
              ((b(cebOff) & 0xff) & (0x80 >> (iBit & 7))) != 0
            if (present && ib + need <= rowWidth) {
              try {
                val pv = ptype match {
                  case 0x02 => PropValue(ptype, le16(b, base + ib),
                    java.util.Arrays.copyOfRange(b, base + ib, base + ib + 2))
                  case 0x03 | 0x0b | 0x0a | 0x01 =>
                    PropValue(ptype, le32(b, base + ib),
                      java.util.Arrays.copyOfRange(b, base + ib, base + ib + 4))
                  case 0x14 | 0x40 | 0x05 =>
                    PropValue(ptype, 0,
                      java.util.Arrays.copyOfRange(b, base + ib, base + ib + 8))
                  case _ =>
                    val hnid = le32(b, base + ib)
                    PropValue(ptype, hnid, resolveHnid(ndb, heap, subs, hnid))
                }
                m += pid -> pv
              } catch { case _: PstMalformed => }
            }
          }
          out += m.result()
          emitted += 1
          r += 1
        }
      }
      out.result()
    }

  }

  private val NidRecipientTable = 0x0692L

  /** Recipient rows from the message's 0x692 subnode: (type, name, email)
    * where type is PidTagRecipientType (1=To, 2=Cc, 3=Bcc). */
  private def recipients(ndb: Ndb, subs: Map[Long, (Long, Long)]):
      Vector[(Int, Option[String], Option[String])] =
    subs.get(NidRecipientTable).toVector.flatMap { case (bidData, bidSub) =>
      try {
        val heap = new Heap(ndb.dataBlocks(bidData))
        val tc = new Tc(ndb, heap, ndb.subnodes(bidSub))
        tc.rows.map { row =>
          def str(pid: Int): Option[String] = row.get(pid).flatMap(decodeStr)
          val rt = row.get(0x0c15).map(_.raw.toInt).getOrElse(1)
          // PidTagSmtpAddress preferred, PidTagEmailAddress (EX) fallback
          (rt, str(0x3001), str(0x39fe).orElse(str(0x3003)))
        }
      } catch { case _: PstMalformed => Vector.empty }
    }

  private def loadPc(ndb: Ndb, bidData: Long, bidSub: Long): Pc = {
    val heap = new Heap(ndb.dataBlocks(bidData))
    new Pc(ndb, heap, ndb.subnodes(bidSub))
  }

  // --- message walk ---------------------------------------------------

  /** MS-PST §2.5.3.1.1: subjects carry a 2-char 0x01+length prefix. */
  private def cleanSubject(s: String): String =
    if (s.nonEmpty && s.charAt(0) == '\u0001') s.drop(2) else s

  private def fmtInstant(ft: Long): String =
    java.time.Instant.ofEpochSecond(ft / 10000000L - 11644473600L)
      .toString.replace("Z", "Z")

  private def fmtRfc2822(ft: Long): String =
    java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME.format(
      java.time.Instant.ofEpochSecond(ft / 10000000L - 11644473600L)
        .atZone(java.time.ZoneOffset.UTC))

  /** RFC 2047 B-encode a header value when it is not printable ASCII. */
  private def hdr(v: String): String = {
    val clean = v.replaceAll("[\r\n]", " ")
    if (clean.forall(c => c >= 0x20 && c < 0x7f)) clean
    else "=?utf-8?B?" + Base64.getEncoder.encodeToString(
      clean.getBytes(StandardCharsets.UTF_8)) + "?="
  }

  final case class PstMessage(nid: Long, pc: Pc,
      subs: Map[Long, (Long, Long)])

  /** Synthesize one RFC 822 document for a message PC: standard headers
    * + multipart with plain body, HTML body, decompressed RTF, and
    * binary attachments — the existing EmlExtractor chain does the rest
    * (the reference's per-mail-item embedded-document model). */
  private def buildEml(ndb: Ndb, pc: Pc, subs: Map[Long, (Long, Long)],
      depth: Int): Array[Byte] = {
    val out = new StringBuilder
    def h(name: String, value: Option[String]): Unit =
      value.filter(_.nonEmpty).foreach(v => out.append(name).append(": ")
        .append(hdr(v)).append("\r\n"))
    val fromName = pc.str(PidSenderName)
    val fromEmail = pc.str(PidSenderSmtp).orElse(pc.str(PidSenderEmail))
      .filter(_.contains("@"))
    h("From", (fromName, fromEmail) match {
      case (Some(n), Some(e)) => Some(s""""$n" <$e>""")
      case (n, e) => n.orElse(e)
    })
    // recipient table rows (0x692) carry the actual addresses; the
    // display-to/cc strings are the fallback (reference: MESSAGE_TO_EMAIL
    // comes from the recipients table)
    val rcpt = recipients(ndb, subs)
    def joinR(rtype: Int): Option[String] = {
      val xs = rcpt.filter(_._1 == rtype).map {
        case (_, Some(n), Some(e)) => s""""$n" <$e>"""
        case (_, n, e) => n.orElse(e).getOrElse("")
      }.filter(_.nonEmpty)
      if (xs.isEmpty) None else Some(xs.mkString(", "))
    }
    h("To", joinR(1).orElse(pc.str(PidDisplayTo)))
    h("Cc", joinR(2).orElse(pc.str(PidDisplayCc)))
    h("Bcc", joinR(3).orElse(pc.str(PidDisplayBcc)))
    h("Subject", pc.str(PidSubject).map(cleanSubject))
    h("Date", pc.time(PidClientSubmitTime).orElse(pc.time(PidDeliveryTime))
      .map(fmtRfc2822))
    h("X-Mapi-Message-Class", pc.str(PidMessageClass))
    h("X-Mapi-Creation-Time", pc.time(PidCreationTime).map(fmtInstant))
    h("X-Mapi-Modification-Time", pc.time(PidModificationTime).map(fmtInstant))

    // attachment subnodes (NID_TYPE_ATTACHMENT = 0x05)
    val attachments = subs.keys.filter(n => (n & 0x1f) == 0x05).toVector.sorted
      .flatMap { anid =>
        val (bidData, bidSub) = subs(anid)
        try {
          val apc = loadPc(ndb, bidData, bidSub)
          val name = apc.str(PidAttachLongFilename)
            .orElse(apc.str(PidAttachFilename))
            .orElse(apc.str(PidDisplayName)).getOrElse("attachment.bin")
          val method = apc.int32(PidAttachMethod).getOrElse(1)
          if (method == 5) {
            // embedded-message attachment (MS-PST §2.3.3.5): the
            // PtypObject value is an 8-byte {nid, ulSize} record; the
            // nid indexes the attachment's own subnode tree, whose node
            // is the nested message's PC. Depth is checked BEFORE the
            // recursive build — attacker-chosen bids can form cycles.
            val data =
              if (depth >= 4) Array.emptyByteArray
              else apc.props.get(PidAttachData)
                .filter(p => p.ptype == 0x0d && p.bytes.length >= 4)
                .flatMap { p =>
                  val nid = le32(p.bytes, 0)
                  ndb.subnodes(bidSub).get(nid).map { case (bd, bs) =>
                    buildEml(ndb, loadPc(ndb, bd, bs), ndb.subnodes(bs),
                      depth + 1)
                  }
                }.getOrElse(Array.emptyByteArray)
            if (data.nonEmpty)
              Some((s"$name.eml", "message/rfc822", data)) else None
          } else apc.bin(PidAttachData).map(d => (name,
            "application/octet-stream", d))
        } catch { case scala.util.control.NonFatal(_) => None }
      }

    val plain = pc.str(PidBody)
    val html = pc.bin(PidHtmlBody)
      .orElse(pc.props.get(PidHtmlBody).filter(_.ptype == 0x1f)
        .map(p => new String(p.bytes, StandardCharsets.UTF_16LE)
          .getBytes(StandardCharsets.UTF_8)))
    val rtf = pc.bin(PidRtfCompressed).flatMap { c =>
      try Some(graft.mail.TnefExtractor.decompressRtf(c))
      catch { case _: Exception => None }
    }

    // deterministic per-message boundary (span determinism across runs)
    val boundary = "----pst-part-" +
      Integer.toHexString(out.result().hashCode).replace('-', 'x')
    out.append("MIME-Version: 1.0\r\n")
    out.append(s"""Content-Type: multipart/mixed; boundary="$boundary"""")
    out.append("\r\n\r\n")
    def part(ct: String, headers: Seq[String], body: String): Unit = {
      out.append("--").append(boundary).append("\r\n")
      out.append("Content-Type: ").append(ct).append("\r\n")
      headers.foreach(x => out.append(x).append("\r\n"))
      out.append("\r\n").append(body).append("\r\n")
    }
    part("text/plain; charset=utf-8",
      Seq("Content-Transfer-Encoding: base64"),
      Base64.getMimeEncoder.encodeToString(
        plain.getOrElse("").getBytes(StandardCharsets.UTF_8)))
    html.foreach { b =>
      part("text/html; charset=utf-8",
        Seq("Content-Transfer-Encoding: base64"),
        Base64.getMimeEncoder.encodeToString(b))
    }
    rtf.foreach { b =>
      part("application/rtf",
        Seq("Content-Transfer-Encoding: base64",
          "Content-Disposition: attachment; filename=\"message.rtf\""),
        Base64.getMimeEncoder.encodeToString(b))
    }
    attachments.foreach { case (name, ct, data) =>
      part(ct,
        Seq("Content-Transfer-Encoding: base64",
          s"""Content-Disposition: attachment; filename="${hdr(name)}""""),
        Base64.getMimeEncoder.encodeToString(data))
    }
    out.append("--").append(boundary).append("--\r\n")
    out.result().getBytes(StandardCharsets.ISO_8859_1)
  }

  /** Engine entry: folder headings as spans, one synthesized RFC 822
    * child per message (reference: one embedded mail item per message,
    * depth-first by folder; here ordered by folder path then node id —
    * deterministic, hierarchy-table-free: the NBT's nidParent edges
    * already encode the folder tree). */
  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink,
      child: (Option[String], Array[Byte]) => Unit): Unit = {
    val ndb = new Ndb(bytes)

    // folder display names (NID_TYPE_NORMAL_FOLDER = 0x02)
    val folderName = scala.collection.mutable.LongMap.empty[String]
    ndb.nodes.values.foreach { n =>
      if ((n.nid & 0x1f) == 0x02) {
        try folderName(n.nid) =
          loadPc(ndb, n.bidData, n.bidSub).str(PidDisplayName).getOrElse("")
        catch { case scala.util.control.NonFatal(_) => }
      }
    }
    // messages (NID_TYPE_NORMAL_MESSAGE = 0x04), keyed by parent folder
    val messages = ndb.nodes.values.toVector
      .filter(n => (n.nid & 0x1f) == 0x04)
      .sortBy(_.nid)
      .flatMap { n =>
        try {
          val pc = loadPc(ndb, n.bidData, n.bidSub)
          Some(PstMessage(n.nid, pc, ndb.subnodes(n.bidSub)))
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    val byParent = messages.groupBy(m =>
      ndb.nodes.get(m.nid).map(_.nidParent).getOrElse(0L))

    meta.set("pst:message_count", messages.size.toString)
    meta.set("pst:folder_count",
      folderName.values.count(_.nonEmpty).toString)

    var emitted = 0
    def emitMessages(msgs: Vector[PstMessage]): Unit = msgs.foreach { m =>
      val subject = m.pc.str(PidSubject).map(cleanSubject)
        .getOrElse("(no subject)")
      val safe = subject.replaceAll("[/\\\\\\u0000-\\u001f]", "_")
      // the reference's mail-item handler emits the subject in the
      // content stream as well as metadata
      sink.chars(subject)
      sink.newline()
      try {
        val eml = buildEml(ndb, m.pc, m.subs, 0)
        child(Some(s"$safe.msg.eml"), eml)
        emitted += 1
      } catch {
        case scala.util.control.NonFatal(e) =>
          meta.add("parse:embedded-exception",
            s"pst message ${m.nid}: ${e.getMessage}")
      }
    }

    // depth-first folder traversal from the root (reference: every
    // folder becomes a heading, then its messages), children by nid
    val children = ndb.nodes.values.toVector
      .filter(n => (n.nid & 0x1f) == 0x02)
      .groupBy(_.nidParent)
    val visited = scala.collection.mutable.Set.empty[Long]
    def walkFolder(nid: Long): Unit = {
      if (!visited.add(nid)) return
      folderName.get(nid).filter(_.nonEmpty).foreach { nm =>
        sink.chars(nm)
        sink.newline()
      }
      emitMessages(byParent.getOrElse(nid, Vector.empty))
      children.getOrElse(nid, Vector.empty).sortBy(_.nid)
        .foreach(c => if (c.nid != nid) walkFolder(c.nid))
    }
    walkFolder(0x122L) // NID_ROOT_FOLDER
    // orphans (folders/messages not reachable from the root)
    ndb.nodes.values.toVector.filter(n => (n.nid & 0x1f) == 0x02)
      .sortBy(_.nid).foreach(n => walkFolder(n.nid))
    emitMessages(messages.filterNot(m =>
      ndb.nodes.get(m.nid).exists(n => visited.contains(n.nidParent))))

    if (messages.nonEmpty && emitted == 0)
      throw new PstMalformed("no message could be extracted")
  }
}
