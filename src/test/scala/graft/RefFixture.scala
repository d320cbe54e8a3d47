package graft

import java.nio.file.{Files, NoSuchFileException, Path}
import org.scalatest.Assertions.assume

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
}
