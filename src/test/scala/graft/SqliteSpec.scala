package graft

import java.nio.file.Path
import graft.core.{DocRow, Span, Status}
import graft.corpus.Corpus
import graft.engine.Extractor
import graft.db.SqliteExtractor
import org.scalatest.funsuite.AnyFunSuite

/** SQLite reader vs the reference's real databases, mirroring the
  * sqlite3-module test expectations (SQLite3ParserTest.java: cell text
  * "0\t2.3\t2.4\tlorem", trailing "tempor", application id / user
  * version metadata, NULL row rendering).
  */
class SqliteSpec extends AnyFunSuite {

  private val docs = Path.of("/root/reference/tika-parsers/" +
    "tika-parsers-extended/tika-parser-sqlite3-module/src/test/" +
    "resources/test-documents")

  private def fixture(name: String): Array[Byte] = RefFixture.bytes(name, docs)

  test("reads the reference database's cells (pk alias, floats, text)") {
    val out = Extractor.extract(DocRow("db",
      Seq(Span("bytes", Corpus.b64(fixture("testSqlite3b.db")), null, 0))))
    assert(out.mime == graft.mime.MimeDb.Sqlite)
    assert(out.status == Status.ParseSuccess ||
      out.status == Status.ParseSuccessWithException)
    val text = out.spans.filter(_.kind == Span.KindText).map(_.text).mkString("\n")
    // SQLite3ParserTest.testBasic expectations
    assert(text.contains("0\t2.3\t2.4\tlorem"))
    assert(text.contains("tempor"))
    // NULL-heavy second row renders empty cells after the rowid
    assert(text.linesIterator.exists(l => l.startsWith("2\t") &&
      l.drop(2).forall(_ == '\t')) ||
      text.linesIterator.exists(_ == "2\t\t\t\t\t\t\t\t\t"))
    assert(out.meta("sqlite:application_id") == Seq("0"))
    assert(out.meta("sqlite:user_version") == Seq("0"))
  }

  test("BLOB cells recurse as embedded documents") {
    val out = Extractor.extract(DocRow("db",
      Seq(Span("bytes", Corpus.b64(fixture("testSqlite3b.db")), null, 0))))
    val paths = out.meta.getOrElse("embedded:path", Seq.empty)
    assert(paths.exists(_.contains("my_table1")), paths)
    assert(out.spans.exists(_.kind == Span.KindEmbeddedOpen))
  }

  test("enumerates user tables, skipping sqlite_ internals") {
    val ts = SqliteExtractor.tables(fixture("testSqlite3b.db"))
    assert(ts.nonEmpty)
    assert(!ts.exists(_.name.startsWith("sqlite_")))
  }

  test("hostile input: truncation and corrupt headers fail cleanly") {
    intercept[SqliteExtractor.SqliteMalformed] {
      SqliteExtractor.tables("not a database".getBytes)
    }
    val bad = fixture("testSqlite3b.db").clone()
    bad(16) = 0x01; bad(17) = 0x23 // non-power-of-two page size
    intercept[SqliteExtractor.SqliteMalformed] { SqliteExtractor.tables(bad) }
  }
}
