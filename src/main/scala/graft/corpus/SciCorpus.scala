package graft.corpus

import java.nio.charset.StandardCharsets
import scala.util.Random
import graft.core.Endian.{be16Bytes, be32Bytes, le32Bytes}

/** Synthetic scientific-format payloads (corpus kind "sci", v17):
  * MAT5, NetCDF classic, GRIB2 — deterministic from the row rng, small,
  * and round-trippable through graft.sci.{Mat,Netcdf,Grib}Extractor.
  */
object SciCorpus {

  // --- MAT-file level 5 (little-endian) ---------------------------------

  private def pad8(a: Array[Byte]): Array[Byte] =
    a ++ new Array[Byte]((8 - (a.length & 7)) & 7)

  private def element(t: Int, data: Array[Byte]): Array[Byte] =
    le32Bytes(t) ++ le32Bytes(data.length) ++ pad8(data)

  private def matVar(name: String, rows: Int, cols: Int): Array[Byte] = {
    val flags = element(6, le32Bytes(6) ++ le32Bytes(0)) // mxDOUBLE_CLASS
    val dims = element(5, le32Bytes(rows) ++ le32Bytes(cols))
    val nm = element(1, name.getBytes(StandardCharsets.US_ASCII))
    val pr = element(9, new Array[Byte](rows * cols * 8)) // miDOUBLE zeros
    element(14, flags ++ dims ++ nm ++ pr)
  }

  def mat(r: Random): Array[Byte] = {
    val names = Seq("signal", "trace", "grid", "coeffs", "series")
    val vars = (0 until 1 + r.nextInt(3)).map { i =>
      matVar(names((i + r.nextInt(names.size)) % names.size) + i,
        1 + r.nextInt(8), 1 + r.nextInt(8))
    }
    val desc = "MATLAB 5.0 MAT-file, Platform: GLNXA64, Created on: " +
      s"Mon Jan ${1 + r.nextInt(28)} 0${r.nextInt(10)}:1${r.nextInt(10)}:00 2024"
    val hdr = new Array[Byte](128)
    java.util.Arrays.fill(hdr, ' '.toByte)
    val d = desc.getBytes(StandardCharsets.US_ASCII)
    System.arraycopy(d, 0, hdr, 0, d.length)
    hdr(124) = 0; hdr(125) = 1; hdr(126) = 'I'; hdr(127) = 'M'
    hdr ++ vars.fold(Array.emptyByteArray)(_ ++ _)
  }

  // --- NetCDF classic CDF-1 (big-endian) --------------------------------

  private def ncName(s: String): Array[Byte] = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    be32Bytes(b.length) ++ b ++ new Array[Byte]((4 - (b.length & 3)) & 3)
  }

  private def ncCharAttr(name: String, value: String): Array[Byte] = {
    val v = value.getBytes(StandardCharsets.UTF_8)
    ncName(name) ++ be32Bytes(2) ++ be32Bytes(v.length) ++ v ++
      new Array[Byte]((4 - (v.length & 3)) & 3)
  }

  def nc(r: Random): Array[Byte] = {
    val dims = Seq("time" -> (1 + r.nextInt(24)), "lat" -> (2 + r.nextInt(90)),
      "lon" -> (2 + r.nextInt(180)))
    val gatts = Seq(
      "title" -> s"synthetic field ${r.nextInt(1000)}",
      "Conventions" -> "CF-1.6",
      "institution" -> "graft synthetic corpus",
      "history" -> s"generated run ${r.nextInt(100)}")
    val vars = Seq("temperature", "pressure").take(1 + r.nextInt(2))
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte]('C', 'D', 'F', 1))
    out.write(be32Bytes(0)) // numrecs
    out.write(be32Bytes(0x0a)); out.write(be32Bytes(dims.length))
    dims.foreach { case (n, len) => out.write(ncName(n)); out.write(be32Bytes(len)) }
    out.write(be32Bytes(0x0c)); out.write(be32Bytes(gatts.length))
    gatts.foreach { case (k, v) => out.write(ncCharAttr(k, v)) }
    out.write(be32Bytes(0x0b)); out.write(be32Bytes(vars.length))
    vars.foreach { name =>
      out.write(ncName(name))
      out.write(be32Bytes(dims.length))
      dims.indices.foreach(i => out.write(be32Bytes(i)))
      out.write(be32Bytes(0x0c)); out.write(be32Bytes(1))
      out.write(ncCharAttr("units", if (name == "temperature") "K" else "Pa"))
      out.write(be32Bytes(5)) // NC_FLOAT
      out.write(be32Bytes(dims.map(_._2).product * 4)) // vsize
      out.write(be32Bytes(0)) // begin (data never read)
    }
    out.toByteArray
  }

  // --- GRIB2: one message, sections 1/3/4 + end marker ------------------

  def grib(r: Random): Array[Byte] = {
    val centre = Seq(7, 74, 78, 98)(r.nextInt(4))
    val ni = 36 + r.nextInt(324)
    val nj = 18 + r.nextInt(163)
    val s1 = be32Bytes(21) ++ Array[Byte](1) ++ be16Bytes(centre) ++ be16Bytes(0) ++
      Array[Byte](2, 1, 1) ++ be16Bytes(2000 + r.nextInt(24)) ++
      Array[Byte]((1 + r.nextInt(12)).toByte, (1 + r.nextInt(28)).toByte,
        r.nextInt(24).toByte, 0, 0, 0, 0)
    val tmpl = new Array[Byte](58) // template 0 body after octet 14
    val s3head = be32Bytes(72) ++ Array[Byte](3, 0) ++ be32Bytes(ni * nj) ++
      Array[Byte](0, 0) ++ be16Bytes(0)
    System.arraycopy(be32Bytes(ni), 0, tmpl, 16, 4) // octets 31-34
    System.arraycopy(be32Bytes(nj), 0, tmpl, 20, 4) // octets 35-38
    val s3 = s3head ++ tmpl
    val s4 = be32Bytes(11) ++ Array[Byte](4) ++ be16Bytes(0) ++ be16Bytes(0) ++
      Array[Byte](r.nextInt(4).toByte, r.nextInt(20).toByte)
    val body = s1 ++ s3 ++ s4 ++ "7777".getBytes(StandardCharsets.US_ASCII)
    val total = 16L + body.length
    val ind = "GRIB".getBytes(StandardCharsets.US_ASCII) ++
      Array[Byte](0, 0, r.nextInt(2).toByte, 2) ++
      Array[Byte](0, 0, 0, 0, (total >> 24).toByte, (total >> 16).toByte,
        (total >> 8).toByte, total.toByte)
    ind ++ body
  }
}
