package graft

import java.nio.file.{Files, NoSuchFileException, Path}
import org.scalatest.Assertions.assume
import graft.core.{DocRow, ExtractedDoc, Span}
import graft.corpus.Corpus
import graft.engine.Extractor

/** Reference test documents. A test that needs one is canceled, not
  * failed, when the reference checkout is absent.
  */
object RefFixture {

  /** The fixture `lookup` finds; a lookup that finds nothing, or that
    * walks a directory that does not exist, cancels the test. */
  def present(name: String)(lookup: => Option[Path]): Path = {
    val hit = try lookup catch { case _: NoSuchFileException => None }
    assume(hit.isDefined, s"reference fixture $name not present")
    hit.get
  }

  /** Bytes of `name` from the first of `dirs` that holds it. */
  def bytes(name: String, dirs: Path*): Array[Byte] = Files.readAllBytes(
    present(name)(dirs.map(_.resolve(name)).find(Files.isRegularFile(_))))

  /** Extraction of `name` from `dir` as a one-span `bytes` row. */
  def extract(dir: Path, name: String,
      cfg: Extractor.Config = Extractor.DefaultConfig): ExtractedDoc =
    Extractor.extract(DocRow(name, Seq(Span("bytes", Corpus.b64(bytes(name, dir)), null, 0))), cfg)
}
