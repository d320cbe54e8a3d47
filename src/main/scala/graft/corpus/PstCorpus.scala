package graft.corpus

import java.nio.charset.StandardCharsets
import scala.util.Random
import graft.core.Endian.{le16Bytes, le32Bytes, le64Bytes}

/** Synthetic Unicode PST writer for the corpus `pst` kind.
  *
  * Emits a minimal-but-valid MS-PST file (wVer 23, permutative
  * encoding): header + ROOT, one-leaf NBT/BBT pages, one heap-on-node
  * block per node (HNHDR → BTH → property context), a root folder, an
  * Inbox folder, and three messages with subject/sender/body/time
  * properties. Block trailers carry the spec CRC (init-0 CRC-32 over
  * the encoded payload) so the layout matches what PstExtractor's
  * checks — and any spec-following reader — expect.
  */
object PstCorpus {

  // encode = inverse of the validated decode permutation
  private val Encode: Array[Byte] = {
    val dec = graft.pst.PstExtractor.decodeTableCopy
    val enc = new Array[Byte](256)
    var i = 0
    while (i < 256) { enc(dec(i) & 0xff) = i.toByte; i += 1 }
    enc
  }

  private val CrcTable: Array[Int] = Array.tabulate(256) { i =>
    var c = i
    var k = 0
    while (k < 8) { c = if ((c & 1) != 0) (c >>> 1) ^ 0xedb88320 else c >>> 1; k += 1 }
    c
  }
  /** MS-PST §5.3 ComputeCRC: init 0, no final inversion. */
  private def crc(b: Array[Byte]): Int = {
    var c = 0
    var i = 0
    while (i < b.length) { c = CrcTable((c ^ b(i)) & 0xff) ^ (c >>> 8); i += 1 }
    c
  }

  /** One property for the PC builder. */
  sealed trait Prop { def pid: Int }
  final case class PStr(pid: Int, s: String) extends Prop // PtypString 0x1F
  final case class PTime(pid: Int, filetime: Long) extends Prop // 0x40
  final case class PInt(pid: Int, v: Int) extends Prop // 0x03

  /** Heap-on-node block payload for a property context. */
  private def pcBlock(props: Seq[Prop]): Array[Byte] = {
    val sorted = props.sortBy(_.pid)
    // allocations: 1 = BTH header, 2 = record array, 3.. = var values
    val values = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val records = new java.io.ByteArrayOutputStream
    var nextAllocIdx = 3
    sorted.foreach { p =>
      val (ptype, dw) = p match {
        case PInt(_, v) => (0x03, v.toLong & 0xffffffffL)
        case PStr(_, s) =>
          values += s.getBytes(StandardCharsets.UTF_16LE)
          val hid = nextAllocIdx.toLong << 5
          nextAllocIdx += 1
          (0x1f, hid)
        case PTime(_, ft) =>
          values += le64Bytes(ft)
          val hid = nextAllocIdx.toLong << 5
          nextAllocIdx += 1
          (0x40, hid)
      }
      records.write(le16Bytes(p.pid)); records.write(le16Bytes(ptype))
      records.write(le32Bytes(dw))
    }
    val recArr = records.toByteArray
    val bthHeader = Array[Byte](0xb5.toByte, 2, 6, 0) ++ le32Bytes(2L << 5)
    val allocs = Vector(bthHeader, recArr) ++ values
    // layout: HNHDR(12) | allocs | HNPAGEMAP
    val offsets = allocs.scanLeft(12)((o, a) => o + a.length)
    val ibHnpm = offsets.last
    val out = new java.io.ByteArrayOutputStream
    out.write(le16Bytes(ibHnpm))
    out.write(0xec); out.write(0xbc) // bSig, bClientSig = PC
    out.write(le32Bytes(1L << 5)) // hidUserRoot = alloc 1 (the BTH header)
    out.write(le32Bytes(0)) // rgbFillLevel
    allocs.foreach(out.write)
    out.write(le16Bytes(allocs.length)) // cAlloc
    out.write(le16Bytes(0)) // cFree
    offsets.foreach(o => out.write(le16Bytes(o)))
    out.toByteArray
  }

  private val PidMessageClass = 0x001a
  private val PidSubject = 0x0037
  private val PidClientSubmitTime = 0x0039
  private val PidSenderName = 0x0c1a
  private val PidDisplayTo = 0x0e04
  private val PidBody = 0x1000
  private val PidDisplayName = 0x3001
  private val NidRoot = 0x122L

  /** Deterministic synthetic ANSI (wVer 15, 32-bit) PST with the same
    * store shape as [[pstFile]]: root + Inbox + three messages, permute
    * encoding. Exercises every ANSI NDB layout difference: 164-byte-
    * offset ROOT with 32-bit BREFs, 496-entry-byte BTPAGEs with 12-byte
    * trailers, 16-byte NBTENTRY / 12-byte BBTENTRY, 12-byte block
    * trailers (cb,wSig,bid32,dwCRC), bCryptMethod at 0x1CD.
    */
  def pstFileAnsi(r: Random): Array[Byte] = {
    val folderNid = 0x8022L
    val baseTime = 130000000000000000L + (r.nextInt(1 << 20).toLong * 10000000L)
    val msgs = (0 until 3).map { i =>
      val nid = 0x200024L + i * 0x20
      val subject = Corpus.sentence(r, 4 + r.nextInt(4)).stripSuffix(".")
      val body = Corpus.paragraph(r, 2 + r.nextInt(3))
      (nid, Seq(
        PStr(PidMessageClass, "IPM.Note"),
        PStr(PidSubject, subject),
        PStr(PidSenderName, s"sender${r.nextInt(100)}"),
        PStr(PidDisplayTo, s"rcpt${r.nextInt(100)}@example.com"),
        PStr(PidBody, body),
        PTime(PidClientSubmitTime, baseTime + i * 600L * 10000000L)))
    }
    val nodes: Seq[(Long, Array[Byte])] =
      Seq(
        NidRoot -> pcBlock(Seq(PStr(PidDisplayName, "Top of store"))),
        folderNid -> pcBlock(Seq(PStr(PidDisplayName, "Inbox"),
          PInt(0x3602, msgs.size)))) ++
        msgs.map { case (nid, props) => nid -> pcBlock(props) }
    val parentOf = Map(NidRoot -> NidRoot, folderNid -> NidRoot) ++
      msgs.map { case (nid, _) => nid -> folderNid }.toMap

    val bbtIb = 1024L
    val nbtIb = 1536L
    var nextIb = 2048L
    var nextBid = 4L
    final case class Blk(bid: Long, ib: Long, cb: Int, data: Array[Byte])
    val blks = nodes.map { case (_, payload) =>
      val enc = payload.clone()
      var i = 0
      while (i < enc.length) { enc(i) = Encode(enc(i) & 0xff); i += 1 }
      val b = Blk(nextBid, nextIb, payload.length, enc)
      val total = ((payload.length + 12 + 63) / 64) * 64 // 12-byte trailer
      nextBid += 4
      nextIb += total
      b
    }
    val nodeBid = nodes.map(_._1).zip(blks.map(_.bid)).toMap

    def btPage(entries: Seq[Array[Byte]], cbEnt: Int, ptype: Int): Array[Byte] = {
      require(entries.size * cbEnt <= 496 && entries.nonEmpty)
      val pg = new java.io.ByteArrayOutputStream
      entries.foreach(pg.write)
      pg.write(new Array[Byte](496 - entries.size * cbEnt))
      pg.write(entries.size) // cEnt
      pg.write(496 / cbEnt) // cEntMax
      pg.write(cbEnt)
      pg.write(0) // cLevel = leaf
      pg.write(ptype); pg.write(ptype) // PAGETRAILER (ANSI, 12 bytes)
      pg.write(le16Bytes(0)) // wSig
      pg.write(le32Bytes(if (ptype == 0x80) 0x3c0L else 0x3c2L)) // page bid
      pg.write(le32Bytes(0)) // dwCRC
      pg.toByteArray
    }

    val bbtEntries = blks.map(b => le32Bytes(b.bid) ++ le32Bytes(b.ib) ++
      le16Bytes(b.cb) ++ le16Bytes(2))
    val nbtEntries = nodes.map { case (nid, _) =>
      le32Bytes(nid) ++ le32Bytes(nodeBid(nid)) ++ le32Bytes(0L) ++ le32Bytes(parentOf(nid))
    }

    val fileLen = nextIb
    val out = new Array[Byte](fileLen.toInt)
    def put(off: Long, b: Array[Byte]): Unit =
      System.arraycopy(b, 0, out, off.toInt, b.length)

    put(0, "!BDN".getBytes(StandardCharsets.US_ASCII))
    put(8, "SM".getBytes(StandardCharsets.US_ASCII))
    put(10, le16Bytes(15)) // wVer: ANSI
    put(12, le16Bytes(19)) // wVerClient
    val root = 164
    put(root + 4, le32Bytes(fileLen)) // ibFileEof
    put(root + 20, le32Bytes(0x3c2L)); put(root + 24, le32Bytes(nbtIb)) // NBT BREF
    put(root + 28, le32Bytes(0x3c0L)); put(root + 32, le32Bytes(bbtIb)) // BBT BREF
    out(0x1cc) = 0x80.toByte // bSentinel
    out(0x1cd) = 1 // bCryptMethod = permute
    put(bbtIb, btPage(bbtEntries, 12, 0x80))
    put(nbtIb, btPage(nbtEntries, 16, 0x81))
    blks.foreach { b =>
      put(b.ib, b.data)
      val total = ((b.cb + 12 + 63) / 64) * 64
      val t = b.ib + total - 12
      put(t, le16Bytes(b.cb) ++ le16Bytes(0) ++ le32Bytes(b.bid) ++
        le32Bytes(crc(b.data).toLong & 0xffffffffL))
    }
    out
  }

  /** Deterministic synthetic PST with one folder and three messages. */
  def pstFile(r: Random): Array[Byte] = {
    val folderNid = 0x8022L
    val baseTime = 130000000000000000L + (r.nextInt(1 << 20).toLong * 10000000L)
    val msgs = (0 until 3).map { i =>
      val nid = 0x200024L + i * 0x20
      val subject = Corpus.sentence(r, 4 + r.nextInt(4)).stripSuffix(".")
      val body = Corpus.paragraph(r, 2 + r.nextInt(3))
      (nid, Seq(
        PStr(PidMessageClass, "IPM.Note"),
        PStr(PidSubject, subject),
        PStr(PidSenderName, s"sender${r.nextInt(100)}"),
        PStr(PidDisplayTo, s"rcpt${r.nextInt(100)}@example.com"),
        PStr(PidBody, body),
        PTime(PidClientSubmitTime, baseTime + i * 600L * 10000000L)))
    }
    val nodes: Seq[(Long, Array[Byte])] =
      Seq(
        NidRoot -> pcBlock(Seq(PStr(PidDisplayName, "Top of store"))),
        folderNid -> pcBlock(Seq(PStr(PidDisplayName, "Inbox"),
          PInt(0x3602, msgs.size)))) ++
        msgs.map { case (nid, props) => nid -> pcBlock(props) }
    val parentOf = Map(NidRoot -> NidRoot, folderNid -> NidRoot) ++
      msgs.map { case (nid, _) => nid -> folderNid }.toMap

    // --- file layout: header (runs past 0x201: bSentinel/bCryptMethod)
    // then BBT page, NBT page, and the data blocks, all past 1 KiB ----
    val bbtIb = 1024L
    val nbtIb = 1536L
    var nextIb = 2048L
    var nextBid = 4L
    final case class Blk(bid: Long, ib: Long, cb: Int, data: Array[Byte])
    val blks = nodes.map { case (nid, payload) =>
      val enc = payload.clone()
      var i = 0
      while (i < enc.length) { enc(i) = Encode(enc(i) & 0xff); i += 1 }
      val b = Blk(nextBid, nextIb, payload.length, enc)
      val total = ((payload.length + 16 + 63) / 64) * 64
      nextBid += 4
      nextIb += total
      b
    }
    val nodeBid = nodes.map(_._1).zip(blks.map(_.bid)).toMap

    def btPage(entries: Seq[Array[Byte]], cbEnt: Int, ptype: Int): Array[Byte] = {
      require(entries.size * cbEnt <= 488 && entries.nonEmpty)
      val pg = new java.io.ByteArrayOutputStream
      entries.foreach(pg.write)
      pg.write(new Array[Byte](488 - entries.size * cbEnt))
      pg.write(entries.size) // cEnt
      pg.write(488 / cbEnt) // cEntMax
      pg.write(cbEnt)
      pg.write(0) // cLevel = leaf
      pg.write(le32Bytes(0)) // padding
      pg.write(ptype); pg.write(ptype) // ptype, ptypeRepeat
      pg.write(le16Bytes(0)) // wSig
      pg.write(le32Bytes(0)) // dwCRC (pages carry block CRCs; readers key on ptype)
      pg.write(le64Bytes(if (ptype == 0x80) 0x3c0L else 0x3c2L)) // page bid
      pg.toByteArray
    }

    val bbtEntries = blks.map(b => le64Bytes(b.bid) ++ le64Bytes(b.ib) ++
      le16Bytes(b.cb) ++ le16Bytes(2) ++ le32Bytes(0))
    val nbtEntries = nodes.map { case (nid, _) =>
      le64Bytes(nid) ++ le64Bytes(nodeBid(nid)) ++ le64Bytes(0L) ++
        le32Bytes(parentOf(nid)) ++ le32Bytes(0)
    }

    val fileLen = nextIb
    val out = new Array[Byte](fileLen.toInt)
    def put(off: Long, b: Array[Byte]): Unit =
      System.arraycopy(b, 0, out, off.toInt, b.length)

    // header
    put(0, "!BDN".getBytes(StandardCharsets.US_ASCII))
    put(8, "SM".getBytes(StandardCharsets.US_ASCII))
    put(10, le16Bytes(23)) // wVer: Unicode
    put(12, le16Bytes(19)) // wVerClient
    val root = 180
    put(root + 4, le64Bytes(fileLen)) // ibFileEof
    put(root + 36, le64Bytes(0x3c2L)); put(root + 44, le64Bytes(nbtIb)) // NBT BREF
    put(root + 52, le64Bytes(0x3c0L)); put(root + 60, le64Bytes(bbtIb)) // BBT BREF
    out(0x200) = 0x80.toByte // bSentinel
    out(0x201) = 1 // bCryptMethod = permute
    put(bbtIb, btPage(bbtEntries, 24, 0x80))
    put(nbtIb, btPage(nbtEntries, 32, 0x81))
    blks.foreach { b =>
      put(b.ib, b.data)
      val total = ((b.cb + 16 + 63) / 64) * 64
      val t = b.ib + total - 16
      put(t, le16Bytes(b.cb) ++ le16Bytes(0) ++ le32Bytes(crc(b.data).toLong & 0xffffffffL) ++
        le64Bytes(b.bid))
    }
    out
  }
}
