package graft.corpus

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.CRC32
import scala.util.Random
import graft.core.Endian.{be16Bytes, be32Bytes, le16Bytes, le32Bytes}

/** Deterministic real-container media fixtures (valid PNG/JPEG/GIF/BMP/
  * WAV/MP3/MP4 headers with synthetic payloads) so media-metadata
  * extraction runs on real bytes, not stubs — FIXTURES.md. Dimensions
  * and durations are derived from the row RNG and recoverable by
  * graft.media.MediaParser.
  */
object MediaCorpus {

  /** Valid PNG: signature, IHDR (8-bit RGB), one IDAT of deflated noise
    * scanlines, IEND — all CRC-correct.
    */
  def png(r: Random): Array[Byte] = {
    val w = 16 + r.nextInt(112)
    val h = 16 + r.nextInt(112)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val crc = new CRC32()
      val tb = typ.getBytes(StandardCharsets.US_ASCII)
      crc.update(tb); crc.update(data)
      be32Bytes(data.length) ++ tb ++ data ++ be32Bytes(crc.getValue)
    }
    val ihdr = be32Bytes(w) ++ be32Bytes(h) ++ Array[Byte](8, 2, 0, 0, 0)
    val raw = new Array[Byte]((w * 3 + 1) * h)
    r.nextBytes(raw)
    for (y <- 0 until h) raw(y * (w * 3 + 1)) = 0 // filter byte None
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    sig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", Corpus.deflate(raw)) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** JPEG: SOI, JFIF APP0, EXIF APP1 with an orientation tag, SOF0 with
    * dims, minimal SOS + EOI.
    */
  def jpeg(r: Random): Array[Byte] = {
    val w = 160 + r.nextInt(1840)
    val h = 120 + r.nextInt(1080)
    val orient = 1 + r.nextInt(8)
    val out = new ByteArrayOutputStream()
    def seg(marker: Int, data: Array[Byte]): Unit = {
      out.write(0xff); out.write(marker)
      out.write(be16Bytes(data.length + 2)); out.write(data)
    }
    out.write(0xff); out.write(0xd8) // SOI
    seg(0xe0, "JFIF".getBytes(StandardCharsets.US_ASCII) ++
      Array[Byte](0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    // EXIF APP1: "Exif\0\0" + little-endian TIFF, IFD0 with tag 0x0112
    val tiff = "II".getBytes(StandardCharsets.US_ASCII) ++ le16Bytes(42) ++ le32Bytes(8) ++
      le16Bytes(1) ++ // one entry
      le16Bytes(0x0112) ++ le16Bytes(3) ++ le32Bytes(1) ++ le16Bytes(orient) ++ le16Bytes(0) ++
      le32Bytes(0) // next IFD
    seg(0xe1, "Exif".getBytes(StandardCharsets.US_ASCII) ++
      Array[Byte](0, 0) ++ tiff)
    seg(0xc0, Array[Byte](8) ++ be16Bytes(h) ++ be16Bytes(w) ++
      Array[Byte](3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1))
    val scan = new Array[Byte](64 + r.nextInt(256))
    r.nextBytes(scan)
    scan.indices.foreach(i => if ((scan(i) & 0xff) == 0xff) scan(i) = 0x7f)
    seg(0xda, Array[Byte](1, 1, 0, 0, 63, 0))
    out.write(scan)
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  def gif(r: Random): Array[Byte] = {
    val w = 32 + r.nextInt(600)
    val h = 32 + r.nextInt(400)
    "GIF89a".getBytes(StandardCharsets.US_ASCII) ++ le16Bytes(w) ++ le16Bytes(h) ++
      Array[Byte](0, 0, 0, 0x3b)
  }

  def bmp(r: Random): Array[Byte] = {
    val w = 16 + r.nextInt(200)
    val h = 16 + r.nextInt(200)
    val pix = new Array[Byte](16)
    "BM".getBytes(StandardCharsets.US_ASCII) ++ le32Bytes(54 + pix.length) ++
      le32Bytes(0) ++ le32Bytes(54) ++ le32Bytes(40) ++ le32Bytes(w) ++ le32Bytes(h) ++
      le16Bytes(1) ++ le16Bytes(24) ++ le32Bytes(0) ++ le32Bytes(pix.length) ++
      le32Bytes(2835) ++ le32Bytes(2835) ++ le32Bytes(0) ++ le32Bytes(0) ++ pix
  }

  /** WAV: 16-bit mono PCM at 8 kHz; duration derives from sample count. */
  def wav(r: Random): Array[Byte] = {
    val rate = 8000
    val nSamples = rate / 4 + r.nextInt(rate) // 250ms..1.25s
    val data = new Array[Byte](nSamples * 2)
    r.nextBytes(data)
    val byteRate = rate * 2
    "RIFF".getBytes(StandardCharsets.US_ASCII) ++ le32Bytes(36 + data.length) ++
      "WAVE".getBytes(StandardCharsets.US_ASCII) ++
      "fmt ".getBytes(StandardCharsets.US_ASCII) ++ le32Bytes(16) ++
      le16Bytes(1) ++ le16Bytes(1) ++ le32Bytes(rate) ++ le32Bytes(byteRate) ++
      le16Bytes(2) ++ le16Bytes(16) ++
      "data".getBytes(StandardCharsets.US_ASCII) ++ le32Bytes(data.length) ++ data
  }

  /** MP3: ID3v2.3 header + CBR 128 kbps 44.1 kHz frame headers. */
  private val Titles = Array("Morning Run", "Night Drive", "Harbor Lights",
    "Cedar Waltz", "Paper Lanterns")
  private val Artists = Array("The Meridian Set", "Ada Quartet",
    "Low Tide Ensemble")

  /** v23: real ID3v2.3 text frames (TIT2/TPE1/TALB/TYER) plus an APIC
    * PNG front cover, so the tag walk, frame decode, and cover-art
    * child recursion are corpus-pinned through the frozen oracles.
    */
  def mp3(r: Random): Array[Byte] = {
    val title = Titles(r.nextInt(Titles.length))
    val artist = Artists(r.nextInt(Artists.length))
    val year = (1998 + r.nextInt(25)).toString
    def id3Frame(id: String, body: Array[Byte]): Array[Byte] =
      id.getBytes(StandardCharsets.US_ASCII) ++ be32Bytes(body.length) ++
        Array[Byte](0, 0) ++ body
    def text(id: String, v: String): Array[Byte] =
      id3Frame(id, Array[Byte](0) ++ v.getBytes(StandardCharsets.ISO_8859_1))
    val cover = png(r)
    val apic = id3Frame("APIC", Array[Byte](0) ++
      "image/png".getBytes(StandardCharsets.US_ASCII) ++ Array[Byte](0, 3) ++
      "Front Cover".getBytes(StandardCharsets.US_ASCII) ++ Array[Byte](0) ++
      cover)
    val frames = text("TIT2", title) ++ text("TPE1", artist) ++
      text("TALB", title + " LP") ++ text("TYER", year) ++ apic
    val sz = frames.length
    val id3 = "ID3".getBytes(StandardCharsets.US_ASCII) ++
      Array[Byte](3, 0, 0) ++
      Array(((sz >> 21) & 0x7f).toByte, ((sz >> 14) & 0x7f).toByte,
        ((sz >> 7) & 0x7f).toByte, (sz & 0x7f).toByte) ++ frames
    val nFrames = 4 + r.nextInt(20)
    val frame = new Array[Byte](417) // 128kbps @44.1kHz frame size
    frame(0) = 0xff.toByte; frame(1) = 0xfb.toByte
    frame(2) = 0x90.toByte // bitrate idx 9 (128), rate idx 0 (44100)
    frame(3) = 0xc0.toByte // mono
    val out = new ByteArrayOutputStream()
    out.write(id3)
    (0 until nFrames).foreach { _ =>
      r.nextBytes(frame); frame(0) = 0xff.toByte; frame(1) = 0xfb.toByte
      frame(2) = 0x90.toByte; frame(3) = 0xc0.toByte
      out.write(frame)
    }
    out.toByteArray
  }

  /** MP4: ftyp + moov(mvhd duration, trak/tkhd dims, udta/meta/ilst
    * iTunes title+artist items — v23) + tiny mdat.
    */
  def mp4(r: Random): Array[Byte] = {
    val w = 320 + r.nextInt(1600)
    val h = 240 + r.nextInt(840)
    val timescale = 1000L
    val duration = 2000L + r.nextInt(60000)
    val title = Titles(r.nextInt(Titles.length))
    val artist = Artists(r.nextInt(Artists.length))
    def box(typ: String, payload: Array[Byte]): Array[Byte] =
      be32Bytes(payload.length + 8) ++
        typ.getBytes(StandardCharsets.ISO_8859_1) ++ payload
    val ftyp = box("ftyp", "isom".getBytes(StandardCharsets.US_ASCII) ++
      be32Bytes(512) ++ "isomiso2".getBytes(StandardCharsets.US_ASCII))
    val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++ be32Bytes(0) ++ be32Bytes(0) ++
      be32Bytes(timescale) ++ be32Bytes(duration) ++ new Array[Byte](80))
    val tkhd = box("tkhd", Array[Byte](0, 0, 0, 7) ++ be32Bytes(0) ++ be32Bytes(0) ++
      be32Bytes(1) ++ be32Bytes(0) ++ be32Bytes(duration) ++ new Array[Byte](8) ++
      be16Bytes(0) ++ be16Bytes(0) ++ be16Bytes(0) ++ be16Bytes(0) ++
      new Array[Byte](36) ++
      be16Bytes(w) ++ be16Bytes(0) ++ be16Bytes(h) ++ be16Bytes(0))
    val trak = box("trak", tkhd)
    def item(name: String, v: String): Array[Byte] =
      box(name, box("data", be32Bytes(1) ++ be32Bytes(0) ++
        v.getBytes(StandardCharsets.UTF_8)))
    val ilst = box("ilst", item("©nam", title) ++ item("©ART", artist))
    val hdlr = box("hdlr", new Array[Byte](8) ++
      "mdir".getBytes(StandardCharsets.US_ASCII) ++
      "appl".getBytes(StandardCharsets.US_ASCII) ++ new Array[Byte](9))
    val udta = box("udta", box("meta", Array[Byte](0, 0, 0, 0) ++ hdlr ++ ilst))
    val moov = box("moov", mvhd ++ trak ++ udta)
    val payload = new Array[Byte](32 + r.nextInt(64))
    r.nextBytes(payload)
    ftyp ++ moov ++ box("mdat", payload)
  }
}
