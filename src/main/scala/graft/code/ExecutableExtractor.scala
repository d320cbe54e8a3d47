package graft.code

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian.{be16, be32, le16, le32}

/** PE / ELF / Mach-O executable metadata.
  *
  * Reference behavior: tika-parsers code-module
  * `executable/ExecutableParser.java` (PE header machine table :150-260,
  * ELF ident/type/machine walk :267-430, Mach-O CPU/file type :436-530)
  * and `executable/UniversalExecutableParser.java` (fat binaries). The
  * surface is the MachineMetadata namespace — `machine:machineType`,
  * `machine:architectureBits`, `machine:endian`, `machine:platform` —
  * plus the PE TimeDateStamp as the creation date and the ELF/Mach-O
  * object-kind as `machine:fileType`. Header-only: O(1) bytes read
  * regardless of binary size, so a 2 GB .so costs the same as a 4 KB
  * stub at 100 TB scale.
  */
object ExecutableExtractor {

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    if (bytes.length < 8) return
    if (bytes(0) == 'M' && bytes(1) == 'Z') parsePe(bytes, meta)
    else if (bytes(0) == 0x7f && bytes(1) == 'E' && bytes(2) == 'L' &&
      bytes(3) == 'F') parseElf(bytes, meta)
    else if ((bytes(0) & 0xff) == 0xca && (bytes(1) & 0xff) == 0xfe &&
      (bytes(2) & 0xff) == 0xba && (bytes(3) & 0xff) == 0xbe)
      parseFat(bytes, meta)
    else parseMachO(bytes, 0, meta, "")
  }

  /** PE: MS-DOS stub -> e_lfanew -> COFF header. Machine table mirrors
    * the reference's switch (ExecutableParser.java:161-258).
    */
  private def parsePe(b: Array[Byte], meta: MetaSink): Unit = {
    if (b.length < 0x40) return
    val peOffset = le32(b, 0x3c)
    // reasonability window, same as the reference (normally first few KB)
    if (peOffset > 4096 || peOffset < 0x3f || peOffset + 24 > b.length) return
    val o = peOffset.toInt
    if (!(b(o) == 'P' && b(o + 1) == 'E' && b(o + 2) == 0 && b(o + 3) == 0))
      return // old-style MS-DOS: no COFF header, metadata stays empty
    meta.set("machine:platform", "Windows")
    val machine = le16(b, o + 4)
    val createdAt = le32(b, o + 8)
    if (createdAt > 0)
      meta.set("meta:creation-date",
        java.time.Instant.ofEpochSecond(createdAt).toString)
    val (mt, endian, bits): (String, String, String) = machine match {
      case 0x14c => ("x86-32", "Little", "32")
      case 0x8664 => ("x86-64", "Little", "64")
      case 0x200 => ("IA-64", "Little", "64")
      case 0x184 => ("Alpha", "Little", "32")
      case 0x284 => ("Alpha", "Little", "64")
      case 0x1c0 | 0x1c4 => ("ARM", "Little", "32")
      case 0xaa64 => ("ARM", "Little", "64")
      case 0x268 => ("Motorola-68000", "Big", "32")
      case 0x266 | 0x366 | 0x466 => ("MIPS", "Big", "16")
      case 0x162 | 0x166 | 0x168 | 0x169 => ("MIPS", "Little", "16")
      case 0x1f0 | 0x1f1 => ("PPC", "Little", "32")
      case 0x1a2 | 0x1a3 => ("SH3", "Big", "32")
      case 0x1a6 => ("SH4", "Big", "32")
      case 0x1a8 => ("SH3", "Big", "32")
      case 0x9041 => ("M32R", "Big", "32")
      case 0xebc => ("EFI", null, null)
      case _ => ("Unknown", null, null)
    }
    meta.set("machine:machineType", mt)
    if (endian != null) meta.set("machine:endian", endian)
    if (bits != null) meta.set("machine:architectureBits", bits)
  }

  private def parseElf(b: Array[Byte], meta: MetaSink): Unit = {
    if (b.length < 20) return
    val bits = b(4) & 0xff // EI_CLASS
    if (bits == 1) meta.set("machine:architectureBits", "32")
    else if (bits == 2) meta.set("machine:architectureBits", "64")
    val endian = b(5) & 0xff // EI_DATA
    if (endian == 1) meta.set("machine:endian", "Little")
    else if (endian == 2) meta.set("machine:endian", "Big")
    val os = b(7) & 0xff // EI_OSABI
    val osVer = b(8) & 0xff
    if (os > 0 || osVer > 0) {
      val platform = os match {
        case 0 => "System V"
        case 1 => "HP-UX"
        case 2 => "NetBSD"
        case 3 => "Linux"
        case 6 => "Solaris"
        case 7 => "AIX"
        case 8 => "IRIX"
        case 9 | 12 => "FreeBSD"
        case 10 => "Tru64"
        case 64 | 97 => "ARM"
        case 255 => "Embedded"
        case _ => null
      }
      if (platform != null) meta.set("machine:platform", platform)
    }
    def u16(o: Int): Int = if (endian == 2) be16(b, o) else le16(b, o)
    val eType = u16(16)
    val kind = eType match {
      case 1 => "object"
      case 2 => "executable"
      case 3 => "sharedlib"
      case 4 => "coredump"
      case _ => "unknown"
    }
    meta.set("machine:fileType", kind)
    val machine = u16(18)
    val mt = machine match {
      case 2 | 18 | 43 => "SPARC"
      case 3 => "x86-32"
      case 4 => "Motorola-68000"
      case 5 => "Motorola-88000"
      case 7 => "S370"
      case 8 | 10 => "MIPS"
      case 20 | 21 => "PPC"
      case 22 => "S390"
      case 40 => "ARM"
      case 41 | 0x9026 => "Alpha"
      case 50 => "IA-64"
      case 62 => "x86-64"
      case 75 => "Vax"
      case 88 => "M32R"
      case 183 => "ARM" // EM_AARCH64: reference maps all ARM to one name
      case 243 => "RISC-V"
      case _ => "Unknown"
    }
    meta.set("machine:machineType", mt)
  }

  /** Mach-O thin binary at `off`. `prefix` scopes fat-slice keys. */
  private def parseMachO(b: Array[Byte], off: Int, meta: MetaSink,
      prefix: String): Unit = {
    if (off + 16 > b.length) return
    val m0 = b(off) & 0xff
    val m3 = b(off + 3) & 0xff
    // FEEDFACE/FEEDFACF big-endian on disk, CEFAEDFE/CFFAEDFE little
    val isLE = m3 == 0xfe // reversed byte order: header fields are LE
    val isBE = m0 == 0xfe // natural order: fields are BE
    if (!isLE && !isBE) return
    def u32(o: Int): Long = if (isLE) le32(b, o) else be32(b, o)
    meta.set(prefix + "machine:endian", if (isLE) "Little" else "Big")
    val cpuType = u32(off + 4)
    if (((cpuType >> 24) & 0xff) == 1)
      meta.set(prefix + "machine:architectureBits", "64")
    val mt = (cpuType & 0xffffffffL) match {
      case 1 => "Vax"
      case 6 => "Motorola-68000"
      case 7 => "x86-32"
      case 0x01000007 => "x86-64"
      case 8 => "MIPS"
      case 12 | 0x0100000c => "ARM"
      case 13 => "Motorola-88000"
      case 14 => "SPARC"
      case 18 | 0x01000012 => "PPC"
      case _ => "Unknown"
    }
    meta.set(prefix + "machine:machineType", mt)
    val fileType = u32(off + 12)
    val kind = fileType match {
      case 0x1 => "object"
      case 0x2 => "executable"
      case 0x3 => "fvmlib"
      case 0x4 => "core"
      case 0x5 => "preload"
      case 0x6 => "dylib"
      case 0x7 => "dylinker"
      case 0x8 => "bundle"
      case 0x9 => "dylib-stub"
      case 0xa => "dsym"
      case 0xb => "kext-bundle"
      case _ => "unknown"
    }
    meta.set(prefix + "machine:fileType", kind)
  }

  /** Fat (universal) binary: per-slice thin headers, keys scoped
    * `machine:arch<N>:` like the reference's UniversalExecutableParser
    * which parses every contained binary.
    */
  private def parseFat(b: Array[Byte], meta: MetaSink): Unit = {
    if (b.length < 8) return
    val n = be32(b, 4)
    if (n <= 0 || n > 32) return // java .class files land here via magic
    meta.set("machine:fatArchCount", n.toString)
    var i = 0
    while (i < n) {
      val fo = 8 + i * 20
      if (fo + 20 <= b.length) {
        val sliceOff = be32(b, fo + 8)
        if (sliceOff + 16 <= b.length)
          parseMachO(b, sliceOff.toInt, meta, s"arch$i:") // arch0:machine:*
      }
      i += 1
    }
  }
}
