package graft.corpus

import java.nio.charset.StandardCharsets
import scala.util.Random
import graft.core.Endian.{putLe16, putLe32, putLe64}

/** Synthetic minimal MS-ONESTORE (.one) files for the corpus: a 1024-byte
  * header, one root FileNodeList fragment holding one
  * ObjectDeclaration2RefCountFND, and one ObjectSpaceObjectPropSet with a
  * CachedTitleString + RichEditTextUnicode property — the smallest shape
  * the OneNote reader (and the reference's tree walker) extracts text
  * from. Structure per MS-ONESTORE §2.3.1 / §2.4; not derived from any
  * real fixture bytes.
  */
object OneCorpus {

  private def guid(hex: String): Array[Byte] =
    hex.grouped(2).map(s => Integer.parseInt(s, 16).toByte).toArray

  def oneFile(r: Random): Array[Byte] = {
    val title = "Note " + Corpus.sentence(r, 2 + r.nextInt(3)).stripSuffix(".")
    val body = Corpus.paragraph(r, 2 + r.nextInt(3))

    // ObjectSpaceObjectPropSet blob: empty OID stream (OSIDs absent),
    // 2 properties of type 0x7 (length-prefixed data)
    def utf16z(s: String): Array[Byte] =
      s.getBytes(StandardCharsets.UTF_16LE) ++ Array[Byte](0, 0)
    val titleB = utf16z(title)
    val bodyB = utf16z(body)
    val blob = new Array[Byte](4 + 2 + 8 + 4 + titleB.length + 4 + bodyB.length)
    var o = 0
    putLe32(blob, o, 0x80000000L); o += 4       // count=0, OsidStreamNotPresent
    putLe16(blob, o, 2); o += 2                 // cProperties
    putLe32(blob, o, 0x1c001cf3L); o += 4       // CachedTitleString
    putLe32(blob, o, 0x1c001c22L); o += 4       // RichEditTextUnicode
    putLe32(blob, o, titleB.length.toLong); o += 4
    System.arraycopy(titleB, 0, blob, o, titleB.length); o += titleB.length
    putLe32(blob, o, bodyB.length.toLong); o += 4
    System.arraycopy(bodyB, 0, blob, o, bodyB.length); o += bodyB.length

    // root FileNodeList fragment at 1024: header(16) + decl node(16) +
    // terminator(4) + pad(8) + nextFragment(12) + footer(8) = 64 bytes
    val listStp = 1024
    val listCb = 64
    val blobStp = listStp + listCb
    val out = new Array[Byte](blobStp + blob.length)

    // ---- header
    System.arraycopy(guid("e4525c7b8cd8a74daeb15378d02996d3"), 0, out, 0x00, 16)
    System.arraycopy(guid("3fdd9a101b91f549a5d01791edc8aed8"), 0, out, 0x30, 16)
    putLe32(out, 0x40, 0x2a) // ffvLastCodeThatWroteToThisFile
    putLe64(out, 0xac, listStp.toLong)  // fcrFileNodeListRoot.stp
    putLe32(out, 0xb4, listCb.toLong)   // fcrFileNodeListRoot.cb
    putLe64(out, 0xc4, out.length.toLong) // cbExpectedFileLength

    // ---- file node list fragment
    putLe64(out, listStp, 0xa4567ab1f5f7f4c4L) // uintMagic
    putLe32(out, listStp + 8, 0x10L)           // FileNodeListID
    putLe32(out, listStp + 12, 0L)             // nFragmentSequence
    // ObjectDeclaration2RefCountFND: id 0xA4, size 16, stpFormat 0 (8B),
    // cbFormat 0 (4B), baseType 1, reserved bit set
    val nodeHeader = 0xa4L | (16L << 10) | (0L << 23) | (0L << 25) |
      (1L << 27) | (1L << 31)
    putLe32(out, listStp + 16, nodeHeader)
    putLe64(out, listStp + 20, blobStp.toLong) // ref.stp
    putLe32(out, listStp + 28, blob.length.toLong) // ref.cb
    // 4-byte zero header terminates the node run (id 0)
    putLe32(out, listStp + 32, 0L)
    // nextFragment = fcrNil (stp all ones, cb 0)
    putLe64(out, listStp + listCb - 20, -1L)
    putLe32(out, listStp + listCb - 12, 0L)
    putLe64(out, listStp + listCb - 8, 0x8bc215c38233ba4bL) // footer

    System.arraycopy(blob, 0, out, blobStp, blob.length)
    out
  }
}
