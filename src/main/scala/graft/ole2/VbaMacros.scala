package graft.ole2

import graft.core.Endian

/** VBA macro source extraction from Office CFB containers.
  *
  * Reference behavior: OfficeParser.extractMacros
  * (tika-parser-microsoft-module/.../OfficeParser.java:113-152) emits
  * one `text/x-vbasic` embedded document per module, resource name =
  * module name, opt-in via OfficeParserConfig.setExtractMacros. The
  * reference delegates the reading to POI's VBAMacroReader (not in the
  * reference tree); this is an original implementation of the public
  * MS-OVBA spec: §2.4.1 compression (copy/literal tokens, 4096-byte
  * chunks), §2.3.4.2 `dir` stream records (codepage, module name /
  * stream name / text offset), module streams with their performance
  * cache skipped via MODULEOFFSET.
  *
  * VBA projects live under a `VBA` storage: `Macros/VBA` (.doc),
  * `_VBA_PROJECT_CUR/VBA` (.xls), root `VBA` (vbaProject.bin inside
  * OOXML), or inside ActiveMime-wrapped CFBs (.mso).
  */
object VbaMacros {

  final case class Module(name: String, source: String)

  /** All modules from every VBA project storage in the container. */
  def readMacros(cfb: Cfb.Doc): Seq[Module] = {
    cfb.entries
      .filter(e => e.objType == 1 && e.name.equalsIgnoreCase("VBA"))
      .flatMap { vba =>
        val vbaPath = vba.path + vba.name + "/"
        try readProject(cfb, vbaPath) catch { case _: Exception => Nil }
      }
      .toSeq
  }

  private def readProject(cfb: Cfb.Doc, vbaPath: String): Seq[Module] = {
    val dirEntry = cfb.entries.find(e => e.objType == 2 &&
      e.path == vbaPath && e.name.equalsIgnoreCase("dir"))
    if (dirEntry.isEmpty) return Nil
    val dir = decompress(cfb.readStream(dirEntry.get), 0)

    var codepage = 1252
    var moduleName: String = null
    var streamName: String = null
    var moduleOffset = 0L
    val out = Vector.newBuilder[Module]

    def charset: java.nio.charset.Charset = {
      def tryCs(n: String) =
        try Some(java.nio.charset.Charset.forName(n))
        catch { case _: Exception => None }
      tryCs("windows-" + codepage).orElse(tryCs("cp" + codepage))
        .getOrElse(java.nio.charset.Charset.forName("windows-1252"))
    }

    val c = new Endian.Cursor(dir)
    while (c.pos + 6 <= dir.length) {
      val id = c.le16()
      if (id == 0x0009) {
        // PROJECTVERSION: fixed-size record whose Size field (4) does
        // not cover VersionMajor(4) + VersionMinor(2) — MS-OVBA §2.3.4.2.1.6
        c.pos += 4 + 4 + 2
      } else {
        val size = c.le32()
        if (size < 0 || c.pos + size > dir.length) c.pos = dir.length
        else {
          val data = java.util.Arrays.copyOfRange(dir, c.pos, c.pos + size.toInt)
          c.pos += size.toInt
          id match {
            case 0x0003 if data.length >= 2 => // PROJECTCODEPAGE
              codepage = Endian.le16(data, 0)
            case 0x0019 => // MODULENAME (MBCS)
              moduleName = new String(data, charset)
            case 0x001A => // MODULESTREAMNAME (MBCS; 0x0032 unicode follows)
              streamName = new String(data, charset)
            case 0x0031 if data.length >= 4 => // MODULEOFFSET
              moduleOffset = Endian.le32(data, 0)
            case 0x002B => // MODULETERMINATOR: materialize the module
              val sn = if (streamName != null) streamName else moduleName
              if (sn != null) {
                cfb.entries.find(e => e.objType == 2 && e.path == vbaPath &&
                  e.name.equalsIgnoreCase(sn)).foreach { me =>
                  val stream = cfb.readStream(me)
                  if (moduleOffset >= 0 && moduleOffset < stream.length) {
                    try {
                      val src = decompress(stream, moduleOffset.toInt)
                      out += Module(
                        if (moduleName != null) moduleName else sn,
                        new String(src, charset))
                    } catch { case _: Exception => () }
                  }
                }
              }
              moduleName = null; streamName = null; moduleOffset = 0L
            case 0x0010 => // PROJECTMODULES terminator region reached
              ()
            case _ => ()
          }
        }
      }
    }
    out.result()
  }

  private val MaxOutput = 8 << 20 // a VBA project is small; bound hostile input

  /** MS-OVBA §2.4.1 CompressedContainer → bytes. Signature byte 0x01,
    * then chunks of [u16 header | data]: header bits 0-11 = chunk size
    * minus 3, bit 15 = compressed. Compressed chunks are 8-token runs
    * (flag byte; literal, or u16 copy token whose offset/length split
    * widens with the decompressed position — §2.4.1.3.19.1). Copy
    * offsets never cross a chunk boundary (≤ 4096, chunk-relative), so
    * a per-chunk window suffices.
    */
  def decompress(data: Array[Byte], offset: Int): Array[Byte] = {
    require(offset < data.length && data(offset) == 0x01, "not a compressed container")
    val out = new java.io.ByteArrayOutputStream(4096)
    val chunk = new Array[Byte](4096)
    var pos = offset + 1
    while (pos + 2 <= data.length) {
      if (out.size > MaxOutput) throw new IllegalStateException("vba output cap")
      val header = Endian.le16(data, pos)
      pos += 2
      val chunkDataLen = (header & 0x0fff) + 3 - 2 // size field covers the header
      val compressed = (header & 0x8000) != 0
      val chunkEnd = math.min(data.length, pos + chunkDataLen)
      var cLen = 0
      if (!compressed) {
        while (pos < chunkEnd && cLen < 4096) { chunk(cLen) = data(pos); cLen += 1; pos += 1 }
      } else {
        while (pos < chunkEnd && cLen < 4096) {
          val flags = data(pos) & 0xff; pos += 1
          var bit = 0
          while (bit < 8 && pos < chunkEnd && cLen < 4096) {
            if ((flags & (1 << bit)) == 0) { chunk(cLen) = data(pos); cLen += 1; pos += 1 }
            else if (pos + 2 <= chunkEnd) {
              val token = Endian.le16(data, pos)
              pos += 2
              var bitCount = 4
              while ((1 << bitCount) < cLen) bitCount += 1
              val lengthMask = 0xffff >>> bitCount
              val len = (token & lengthMask) + 3
              val off = (token >>> (16 - bitCount)) + 1
              var k = 0
              while (k < len && cLen < 4096) {
                val src = cLen - off
                chunk(cLen) = if (src >= 0) chunk(src) else 0
                cLen += 1; k += 1
              }
            } else pos = chunkEnd
            bit += 1
          }
        }
      }
      out.write(chunk, 0, cLen)
      pos = chunkEnd
    }
    out.toByteArray
  }
}
