package graft

import java.nio.file.Path
import graft.mime.{MediaTypes, MimeDb, MimeRegistry}
import graft.ole2.{Cfb, CfbWriter, Ole2Detector}
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 detection tranche: Lotus 1-2-3 versioned BOF magics, the 3MF
  * OPC mapping, and the full POIFSContainerDetector root-entry decision
  * tree (reference POIFSContainerDetector.java:281-404 + checkEncrypted,
  * MiscOLEDetector.java:90-107).
  */
class LotusOpcOleSpec extends AnyFunSuite {

  private val itDocs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-standard/tika-parsers-standard-integration-tests/" +
    "src/test/resources/test-documents")

  private def fixture(name: String): Array[Byte] = RefFixture.bytes(name, itDocs)

  test("Lotus 1-2-3 fixtures detect to the versioned types by magic") {
    assert(MimeRegistry.detect(fixture("testLotus123.wk1"), None) ==
      MimeDb.Lotus123V2)
    assert(MimeRegistry.detect(fixture("testLotus123.wk3"), None) ==
      MimeDb.Lotus123V3)
    assert(MimeRegistry.detect(fixture("testLotus123-lotusftp.wk4"), None) ==
      MimeDb.Lotus123V4)
    assert(MimeRegistry.detect(fixture("testLotus123-lotusftp.123"), None) ==
      MimeDb.Lotus123V97)
    assert(MimeRegistry.detect(fixture("testLotus123.wks"), None) ==
      MimeDb.Lotus123V1)
  }

  test("Lotus versioned types specialize the family type") {
    for (v <- Seq(MimeDb.Lotus123V1, MimeDb.Lotus123V2, MimeDb.Lotus123V3,
        MimeDb.Lotus123V4, MimeDb.Lotus123V97))
      assert(MimeRegistry.isSpecializationOf(v, MimeDb.Lotus123), v)
  }

  test("3MF package detects from the 3D model part (TestContainerAwareDetector.test3MF)") {
    val b = fixture("test3mf.3mf")
    assert(graft.zipx.OpcDetector.specialize(b) == MimeDb.ThreeMf)
    // end-to-end: the engine's container-detection pass lands the type
    val d = graft.engine.Extractor.extract(graft.core.DocRow("test3mf.3mf",
      Seq(graft.core.Span("bytes", graft.corpus.Corpus.b64(b), null, 0))))
    assert(d.mime == MimeDb.ThreeMf)
  }

  // --- POIFSContainerDetector decision tree over crafted CFBs ---

  private def cfb(names: String*): Array[Byte] =
    CfbWriter.write(names.map(_ -> Array[Byte](1, 2, 3)))

  test("Works 7.0: WksSSWorkBook outranks Workbook (XLR, not XLS)") {
    assert(Ole2Detector.specialize(cfb("WksSSWorkBook", "Workbook")) ==
      "application/x-tika-msworks-spreadsheet")
  }

  test("Workbook whose CompObj declares MSGraph.Chart is an embedded chart") {
    val compObj = "junk MSGraph.Chart.8 junk"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val b = CfbWriter.write(Seq(
      "Workbook" -> Array[Byte](1), "\u0001CompObj" -> compObj))
    assert(Ole2Detector.specialize(b) == Ole2Detector.MsGraphChart)
    // without the CompObj marker it's plain Excel
    assert(Ole2Detector.specialize(cfb("Workbook")) == MediaTypes.MsExcel)
    assert(Ole2Detector.specialize(cfb("Book")) == MediaTypes.MsExcel)
  }

  test("DRM dataspaces and protected OOXML (checkEncrypted)") {
    assert(Ole2Detector.specialize(cfb("\u0006DataSpaces", "\tDRMDataSpace",
      "WordDocument")) == Ole2Detector.DrmEncrypted)
    assert(Ole2Detector.specialize(cfb("EncryptedPackage", "EncryptionInfo")) ==
      Ole2Detector.OoxmlProtected)
    assert(Ole2Detector.specialize(cfb("EncryptedPackage", "\u0006DataSpaces",
      "DRMEncryptedDataSpace")) == Ole2Detector.DrmEncrypted)
  }

  test("MS Project: CompObj + Props + a mpp data stream") {
    assert(Ole2Detector.specialize(cfb("\u0001CompObj", "Props", "   1")) ==
      Ole2Detector.MsProject)
    // without the "   <n>" stream it stays generic
    assert(Ole2Detector.specialize(cfb("\u0001CompObj", "Props")) ==
      MediaTypes.TikaMsOffice)
  }

  test("StarOffice family: entry names + CompObj disambiguation") {
    assert(Ole2Detector.specialize(cfb("StarCalcDocument")) ==
      Ole2Detector.StarCalc)
    assert(Ole2Detector.specialize(cfb("StarWriterDocument")) ==
      Ole2Detector.StarWriter)
    val draw = "StarDraw 5.0".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    assert(Ole2Detector.specialize(CfbWriter.write(Seq(
      "StarDrawDocument3" -> Array[Byte](1), "\u0001CompObj" -> draw))) ==
      Ole2Detector.StarDraw)
    val impress = "StarImpress".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    assert(Ole2Detector.specialize(CfbWriter.write(Seq(
      "StarDrawDocument3" -> Array[Byte](1), "\u0001CompObj" -> impress))) ==
      Ole2Detector.StarImpress)
    assert(Ole2Detector.specialize(cfb("SwDocContentMgr", "SwDocMgrTempStorage")) ==
      "application/sldworks")
  }

  test("embedded-object shapes: ObjInfo, Quill96 Works, Ole10Native, ActiveX") {
    assert(Ole2Detector.specialize(cfb("CONTENTS", "\u0003ObjInfo")) ==
      Ole2Detector.CompObjEmbedded)
    val quill = "Quill96".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    assert(Ole2Detector.specialize(CfbWriter.write(Seq(
      "CONTENTS" -> Array[Byte](1), "\u0001CompObj" -> quill))) ==
      "application/vnd.ms-works")
    assert(Ole2Detector.specialize(CfbWriter.write(Seq(
      "CONTENTS" -> Array[Byte](1),
      "\u0001CompObj" -> Array[Byte](0, 0, 0)))) ==
      Ole2Detector.CompObjEmbedded)
    assert(Ole2Detector.specialize(cfb("\u0001Ole10Native")) ==
      Ole2Detector.Ole10Native)
    // TIKA-4091: ActiveX controls stay generic OLE
    assert(Ole2Detector.specialize(cfb("\u0003OCXNAME", "CONTENTS")) ==
      MediaTypes.TikaMsOffice)
    // bare CONTENTS = embedded non-office payload, generic
    assert(Ole2Detector.specialize(cfb("CONTENTS")) == MediaTypes.TikaMsOffice)
  }

  test("Works WP, equation, ESRI layer, DGN, HWP, Quattro markers") {
    assert(Ole2Detector.specialize(cfb("MatOST")) == "application/vnd.ms-works")
    assert(Ole2Detector.specialize(cfb("CONTENTS", "SPELLING")) ==
      "application/vnd.ms-works")
    assert(Ole2Detector.specialize(cfb("Equation Native")) ==
      "application/vnd.ms-equation")
    assert(Ole2Detector.specialize(cfb("Layer")) == Ole2Detector.EsriLayer)
    assert(Ole2Detector.specialize(cfb("Dgn~Mf", "Dgn~S", "Dgn~H")) ==
      "image/vnd.dgn;version=8")
    assert(Ole2Detector.specialize(cfb("\u0005HwpSummaryInformation")) ==
      MimeDb.HwpV5)
    assert(Ole2Detector.specialize(cfb("PerfectOffice_MAIN",
      "PerfectOffice_OBJECTS")) == Ole2Detector.QuattroWb)
    assert(Ole2Detector.specialize(cfb("PerfectOffice_MAIN", "SlideShow")) ==
      Ole2Detector.CorelShow)
    assert(Ole2Detector.specialize(cfb("NativeContent_MAIN")) == MimeDb.Qpw)
  }

  test("entry names compare case-insensitively (MS-CFB 2.6.1)") {
    assert(Ole2Detector.specialize(cfb("WORKBOOK")) == MediaTypes.MsExcel)
    assert(Ole2Detector.specialize(cfb("worddocument")) == MediaTypes.MsWord)
  }
}
