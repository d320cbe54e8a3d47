package graft

import java.nio.file.{Path, Paths}
import graft.mime.{MimeDb, MimeRegistry}
import org.scalatest.funsuite.AnyFunSuite

/** Round-4 detection-parity tranche: fixtures that previously fell to
  * octet-stream, asserted against the reference's tika-mimetypes.xml
  * semantics (magic where the reference has magic, glob-only where it
  * has only globs — brotli, pack200).
  */
class DetectParityR4Spec extends AnyFunSuite {

  private val roots = Seq(
    "/root/reference/tika-parsers/tika-parsers-standard/" +
      "tika-parsers-standard-integration-tests/src/test/resources/test-documents",
    "/root/reference/tika-parsers/tika-parsers-standard/" +
      "tika-parsers-standard-modules/tika-parser-code-module/src/test/resources/test-documents",
    "/root/reference/tika-parsers/tika-parsers-standard/" +
      "tika-parsers-standard-modules/tika-parser-miscoffice-module/src/test/resources/test-documents",
    "/root/reference/tika-parsers/tika-parsers-standard/" +
      "tika-parsers-standard-modules/tika-parser-cad-module/src/test/resources/test-documents",
    "/root/reference/tika-parsers/tika-parsers-standard/" +
      "tika-parsers-standard-modules/tika-parser-image-module/src/test/resources/test-documents",
    "/root/reference/tika-parsers/tika-parsers-standard/" +
      "tika-parsers-standard-modules/tika-parser-pkg-module/src/test/resources/test-documents"
  ).map(Paths.get(_))

  private def fixture(name: String): Array[Byte] = RefFixture.bytes(name, roots: _*)

  private def detectContent(name: String): String =
    MimeRegistry.detect(fixture(name))

  private def detectNamed(name: String): String =
    MimeRegistry.detect(fixture(name), Some(name))

  test("content-only magic tranche") {
    assert(detectContent("testPGPEncrypted.gpg") == MimeDb.PgpEncrypted)
    assert(detectContent("testTXT-tika.axx") == MimeDb.AxCrypt)
    assert(detectContent("testINDD.indd") == MimeDb.Indd)
    assert(detectContent("testBDB_hash_2.db") == MimeDb.BdbHash)
    assert(detectContent("testBDB_btree_2.db") == MimeDb.BdbBtree)
    assert(detectContent("testMYSQL.frm") == MimeDb.MySqlFrm)
    assert(detectContent("testMYSQL.MYI") == MimeDb.MySqlMyisamCIdx)
    assert(detectContent("testSAS.sd2") == MimeDb.SasV6)
    assert(detectContent("testQuattro.wq1") == MimeDb.QpwDos14)
    assert(detectContent("testQuattro.wq2") == MimeDb.QpwDos5)
    assert(detectContent("testQuattro.wb1") == MimeDb.QpwWin15)
    assert(detectContent("testQuattro.wb2") == MimeDb.QpwWin6)
    assert(detectContent("testOS2BitmapArray") == MimeDb.Os2Bga)
    assert(detectContent("testDGN7.dgn") == MimeDb.Dgn7)
    assert(detectContent("testDCX.dcx") == MimeDb.Dcx)
    assert(detectContent("testJBIG2.jb2") == MimeDb.Jbig2)
    assert(detectContent("testJavaHprofBinary") == MimeDb.HprofBin)
    assert(detectContent("testJavaHprofText") == MimeDb.HprofText)
    assert(detectContent("testHFA.hfa") == MimeDb.ErdasHfa)
    // WP 4.2 magic beats the misleading .doc name hint (the hint may
    // only specialize; msword does not specialize vnd.wordperfect)
    assert(detectNamed("testWordPerfect_42.doc") == MimeDb.Wp42)
  }

  test("glob-only tranche (brotli / pack200 have no magic upstream)") {
    assert(detectNamed("testBROTLI_compressed.br") == MimeDb.Brotli)
    assert(detectNamed("testPACK200.pack") == MimeDb.Pack200)
    // MYD rows are header-less; only the glob names them
    assert(MimeRegistry.detect(Array[Byte](1, 2, 3, 4),
      Some("t.MYD")) == MimeDb.MySqlMyisamData)
  }

  test("versioned types walk to their family supertype") {
    assert(MimeRegistry.superType(MimeDb.BdbHash).contains(MimeDb.BerkeleyDb))
    assert(MimeRegistry.superType(MimeDb.QpwDos14).contains(MimeDb.Qpw))
    assert(MimeRegistry.superType(MimeDb.Dgn7).contains(MimeDb.Dgn))
    assert(MimeRegistry.superType(MimeDb.HprofText)
      .contains(graft.mime.MediaTypes.TextPlain))
  }
}
