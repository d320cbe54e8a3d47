package graft

import java.nio.file.Path
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import org.scalatest.funsuite.AnyFunSuite

/** NetCDF classic header extraction vs the reference's real fixture;
  * assertions mirror netcdf/NetCDFParserTest.testParseGlobalMetadata —
  * CF global attributes in metadata, dimension/variable listing in the
  * body text.
  */
class NetcdfSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-extended/tika-parser-scientific-module/" +
    "src/test/resources/test-documents")

  private def extract(name: String): graft.core.ExtractedDoc = {
    val b = RefFixture.bytes(name, docs)
    Extractor.extract(DocRow(name, Seq(Span("bytes", Corpus.b64(b), null, 0))))
  }

  private def text(d: graft.core.ExtractedDoc): String =
    d.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")

  test("sresa1b .nc: CF global metadata (NetCDFParserTest)") {
    val d = extract("sresa1b_ncar_ccsm3_0_run1_200001.nc")
    assert(d.mime == "application/x-netcdf", d.mime)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.meta.get("dc:title").exists(_.contains("model output prepared for IPCC AR4")))
    assert(d.meta.get("contact").exists(_.contains("ccsm@ucar.edu")))
    assert(d.meta.get("project_id").exists(_.contains("IPCC Fourth Assessment")))
    assert(d.meta.get("Conventions").exists(_.contains("CF-1.0")))
    assert(d.meta.get("realization").exists(_.contains("1")))
    assert(d.meta.get("experiment_id")
      .exists(_.contains("720 ppm stabilization experiment (SRESA1B)")))
    assert(d.meta.get("netcdf:File-Type-Description").exists(_.contains("NetCDF-3/CDM")))
  }

  test("sresa1b .nc: dimension + variable listing (NetCDFParserTest)") {
    val t = text(extract("sresa1b_ncar_ccsm3_0_run1_200001.nc"))
    assert(t.contains("long_name = \"Surface area\""), t.take(400))
    assert(t.contains("float area(lat=128, lon=256)"))
    assert(t.contains("float lat(lat=128)"))
    assert(t.contains("double lat_bnds(lat=128, bnds=2)"))
    assert(t.contains("double lon_bnds(lon=256, bnds=2)"))
    assert(t.contains("lat = 128"))
    assert(t.contains("lon = 256"))
  }

  test("malformed: truncated header and header bombs recorded, not crashed") {
    val good = RefFixture.bytes("sresa1b_ncar_ccsm3_0_run1_200001.nc", docs)
    org.scalatest.Assertions.assume(good.nonEmpty)
    // truncate mid-header
    val d1 = extract0(good.take(40))
    assert(d1.status == Status.ParseException, d1.status)
    // absurd gatt count: 0x7fffffff attrs in a 64-byte file
    val bomb = good.take(24) ++
      Array[Byte](0, 0, 0, 0x0c, 0x7f, -1, -1, -1) ++ new Array[Byte](8)
    val d2 = extract0(bomb)
    assert(d2.status == Status.ParseException, d2.status)
  }

  private def extract0(b: Array[Byte]): graft.core.ExtractedDoc =
    Extractor.extract(DocRow("t.nc", Seq(Span("bytes", Corpus.b64(b), null, 0))))

  test("CDF-5: every NON_NEG widens to 64 bits (synthetic header)") {
    // minimal CDF-5 file: dim x=3, one char global attr, one float var
    val o = new java.io.ByteArrayOutputStream()
    def u32(v: Int): Unit = { o.write(v >>> 24); o.write(v >>> 16); o.write(v >>> 8); o.write(v) }
    def i64(v: Long): Unit = { u32((v >>> 32).toInt); u32(v.toInt) }
    def name(s: String): Unit = {
      i64(s.length); o.write(s.getBytes("US-ASCII"))
      (0 until ((4 - (s.length & 3)) & 3)).foreach(_ => o.write(0))
    }
    o.write('C'); o.write('D'); o.write('F'); o.write(5)
    i64(0)                          // numrecs
    u32(0x0a); i64(1)               // dim_list, 1 dim
    name("x"); i64(3)               // dim x = 3
    u32(0x0c); i64(1)               // gatt_list, 1 attr
    name("title"); u32(2); i64(5)   // NC_CHAR × 5
    o.write("hello".getBytes("US-ASCII")); o.write(0); o.write(0); o.write(0)
    u32(0x0b); i64(1)               // var_list, 1 var
    name("v"); i64(1); i64(0)       // rank 1, dimid 0
    u32(0); i64(0)                  // ABSENT vatt_list
    u32(5)                          // nc_type float
    i64(12); i64(o.size + 24)       // vsize, begin
    val d = extract0(o.toByteArray)
    assert(d.status == Status.ParseSuccess, d.status)
    assert(d.meta.get("netcdf:File-Type-Description").exists(_.contains("NetCDF-5/CDM")))
    assert(d.meta.get("dc:title").exists(_.contains("hello")))
    val t = text(d)
    assert(t.contains("x = 3"), t)
    assert(t.contains("float v(x=3)"), t)
  }
}
