package graft

import java.nio.file.Path

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.{Extractor, MetaSink}
import graft.sci.HdfExtractor

/** HDF4 / HDF5 metadata parity with the reference's HDFParserTest
  * (tika-parser-scientific-module): the two real fixtures test.hdf
  * (AVHRR Pathfinder HDF4) and test.he5 (Aura MLS HDF-EOS5).
  */
class HdfSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-extended/tika-parser-scientific-module/" +
    "src/test/resources/test-documents")

  private def metaOf(name: String): Map[String, Seq[String]] = {
    val meta = new MetaSink
    HdfExtractor.extract(RefFixture.bytes(name, docs), meta)
    meta.result()
  }

  test("he5: HDFParserTest.testParseGlobalMetadata parity (GranuleMonth=5)") {
    val m = metaOf("test.he5")
    assert(m("GranuleMonth") == Seq("5"))
  }

  test("he5: group attributes across the tree (string/int/float/double)") {
    val m = metaOf("test.he5")
    assert(m("InstrumentName") == Seq("MLS Aura"))
    assert(m("ProcessLevel") == Seq("L2"))
    assert(m("PGEVersion") == Seq("V02-23"))
    assert(m("GranuleYear") == Seq("2009"))
    assert(m("GranuleDayOfYear") == Seq("122"))
    // double attribute, full Java Double.toString rendering
    assert(m("OrbitPeriod").head == "5932.937352001667")
    // first element of a 16-wide int attribute (getNumericValue)
    assert(m("OrbitNumber").head == "25509")
    // float32 attribute from a swath group (first of 37)
    assert(m("Pressure").head == "1000.0")
    assert(m("HDFEOSVersion") == Seq("HDFEOS_5.1.10"))
    assert(m("hdf:File-Type-Description") ==
      Seq("Hierarchical Data Format, version 5"))
  }

  test("he5: variable-scoped duplicates aggregate under one name") {
    // Units appears on many datasets; the reference's add() keeps all
    val m = metaOf("test.he5")
    assert(m("Units").size > 10)
    assert(m("Units").contains("vmr") && m("Units").contains("hPa"))
  }

  test("hdf4: HDFParserTest.testHDF4 parity (_History, Pass, type description)") {
    val m = metaOf("test.hdf")
    assert(m("_History") ==
      Seq("Direct read of HDF4 file through CDM library"))
    assert(m("Pass") == Seq("Ascending"))
    assert(m("hdf:File-Type-Description") ==
      Seq("Hierarchical Data Format, version 4"))
  }

  test("hdf4: global attributes only — variable attrs stay out") {
    val m = metaOf("test.hdf")
    assert(m("Title") == Seq("AVHRR Oceans Pathfinder Equal Angle"))
    assert(m("Sensor") == Seq("NOAA polar orbiter data"))
    assert(m("Start year") == Seq("1987"))
    assert(m("Number of columns") == Seq("720"))
    // float32 global, Java Float.toString
    assert(m("Orbit") == Seq("11748.0"))
    assert(m("Maximum Latitude") == Seq("89.575"))
    // Slope/Unit/Equation/scale_factor are SDS variable attributes:
    // tika's group walk never reports them
    assert(!m.contains("Slope") && !m.contains("Unit") &&
      !m.contains("scale_factor") && !m.contains("Band Name"))
  }

  test("engine end-to-end: .he5 and .hdf route on magic, clean status") {
    for (name <- Seq("test.he5", "test.hdf")) {
      val out = RefFixture.extract(docs, name)
      assert(out.status == Status.ParseSuccess, s"$name -> ${out.status}")
      assert(out.mime == "application/x-hdf", out.mime)
    }
  }

  test("truncated / bit-damaged HDF payloads never escape the envelope") {
    val rnd = new scala.util.Random(7)
    for (name <- Seq("test.he5", "test.hdf")) {
      val valid = RefFixture.bytes(name, docs)
      (0 until 24).foreach { i =>
        val mutated =
          if (i % 2 == 0) java.util.Arrays.copyOf(valid, 8 + rnd.nextInt(4096))
          else {
            val m = valid.clone()
            val pos = rnd.nextInt(math.min(m.length, 1 << 16))
            m(pos) = (m(pos) ^ (1 << rnd.nextInt(8))).toByte
            m
          }
        val out = Extractor.extract(
          DocRow(name, Seq(Span("bytes", Corpus.b64(mutated), null, 0))))
        assert(out.status != null && out.mime != null)
      }
    }
  }
}
