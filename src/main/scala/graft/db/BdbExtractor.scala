package graft.db

import graft.engine.{MetaSink, SpanSink}
import graft.core.Endian.{be32, le32}

/** Berkeley DB header metadata — from scratch per the public libdb
  * on-disk layout (the generic 72-byte DBMETA header shared by btree
  * and hash files: LSN(8) pgno(4) magic@12(4) version(4) pagesize(4)
  * encrypt_alg/type(2) metaflags(1) unused(1) free(4) last_pgno(4) ...
  * key_count/record_count at 52/56 in recent versions, uid@60).
  * The reference only magic-detects the type.
  */
object BdbExtractor {

  private val BtreeMagic = 0x00053162L
  private val HashMagic = 0x00061561L

  def extract(bytes: Array[Byte], sink: SpanSink, meta: MetaSink): Unit = {
    if (bytes.length < 72) return
    var magic = le32(bytes, 12)
    var le = true
    if (magic != BtreeMagic && magic != HashMagic) {
      magic = be32(bytes, 12); le = false
      if (magic != BtreeMagic && magic != HashMagic) return
    }
    def word(o: Int): Long = if (le) le32(bytes, o) else be32(bytes, o)
    meta.set("bdb:access-method",
      if (magic == BtreeMagic) "btree" else "hash")
    meta.set("bdb:byteorder", if (le) "little-endian" else "big-endian")
    meta.set("bdb:version", word(16).toString)
    meta.set("bdb:pagesize", word(20).toString)
    meta.set("bdb:last-pgno", word(32).toString)
    val encrypt = bytes(24) & 0xff
    if (encrypt != 0) meta.set("bdb:encrypted", "true")
  }
}
