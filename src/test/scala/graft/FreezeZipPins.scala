/** Dev tool: regenerate the ZipUtil pin
  * (src/test/resources/golden/zip-pins-v<Corpus.Version>.tsv) after an
  * INTENTIONAL ZipUtil or corpus change. Review the diff, then commit.
  * Run:
  *   sbt 'Test/runMain FreezeZipPins'
  */
object FreezeZipPins {
  def main(args: Array[String]): Unit = {
    val out = graft.ZipPins.path
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, graft.ZipPins.render())
    println(s"wrote ${graft.ZipPins.inputs.size} rows to $out")
  }
}
