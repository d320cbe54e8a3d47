/** Dev tool: regenerate the config-variant extraction pin
  * (src/test/resources/golden/config-pins-v<Corpus.Version>.tsv) after an
  * INTENTIONAL extractor or corpus change. Review the diff, then commit.
  * Run:
  *   sbt 'Test/runMain FreezeConfigPins'
  */
object FreezeConfigPins {
  def main(args: Array[String]): Unit = {
    val out = graft.ConfigPins.path
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.writeString(out, graft.ConfigPins.render())
    println(s"wrote ${graft.ConfigPins.Rows.size} rows to $out")
  }
}
