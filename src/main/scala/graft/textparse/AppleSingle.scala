package graft.textparse

import graft.core.Endian.{be16, be32}

/** AppleSingle (RFC 1740) wrapper: magic 0x00051600, version, 16 filler
  * bytes, u16 entry count, then (id, offset, length) u32BE descriptors.
  * The data fork (id 1) is the wrapped document; the real-name entry
  * (id 3) carries the original filename.
  *
  * Reference behavior: tika-parsers
  * .../apple/AppleSingleFileParser.java — data fork re-parsed as an
  * embedded document with the real name as resource-name metadata.
  */
object AppleSingle {

  final class AppleSingleMalformed(msg: String) extends Exception(msg)

  val Mime = "application/applefile"

  def isAppleSingle(b: Array[Byte]): Boolean =
    b.length > 26 && b(0) == 0 && b(1) == 5 && (b(2) & 0xff) == 0x16 && b(3) == 0

  /** (originalName, dataFork) */
  def unwrap(b: Array[Byte]): (Option[String], Array[Byte]) = {
    if (!isAppleSingle(b)) throw new AppleSingleMalformed("bad magic")
    val numEntries = be16(b, 24)
    if (numEntries <= 0 || numEntries > 64)
      throw new AppleSingleMalformed(s"bad entry count $numEntries")
    var name: Option[String] = None
    var data: Array[Byte] = null
    var i = 0
    while (i < numEntries) {
      val e = 26 + i * 12
      if (e + 12 > b.length) throw new AppleSingleMalformed("truncated entries")
      val id = be32(b, e)
      val off = be32(b, e + 4)
      val len = be32(b, e + 8)
      if (off >= 0 && len >= 0 && off + len <= b.length) {
        if (id == 1) // data fork
          data = java.util.Arrays.copyOfRange(b, off.toInt, (off + len).toInt)
        else if (id == 3 && len < 4096) // real name
          name = Some(new String(b, off.toInt, len.toInt,
            java.nio.charset.StandardCharsets.US_ASCII))
      }
      i += 1
    }
    if (data == null) throw new AppleSingleMalformed("no data fork")
    (name, data)
  }
}
