package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite
import graft.core.ExtractedDoc
import graft.corpus.Corpus
import graft.engine.Extractor

/** Per-document extraction hashes of the first 2000 corpus rows under
  * every config that changes which parse route runs (FIXTURES.md §4).
  *
  * Each hash covers (doc_id, mime, status, spans, meta), the same fields
  * as the benchmark's digest gate. `maxDepth = 1` and `maxEmbedded = 2`
  * drive every container's budget-drop path. Unlike `GoldenSpansSpec`,
  * a missing pin file fails: it is regenerated only on purpose, with
  * `sbt 'Test/runMain FreezeConfigPins'`.
  */
object ConfigPins {

  val Rows: Range = 0 until 2000

  val Configs: Seq[(String, Extractor.Config)] = {
    val d = Extractor.DefaultConfig
    Seq(
      "default" -> d,
      "password" -> d.copy(password = Some("x")),
      "macros" -> d.copy(extractMacros = true),
      "strings" -> d.copy(stringsFallback = true),
      "regex" -> d.copy(
        regexCaptures = Seq("mail" -> "([A-Za-z0-9.]+@[A-Za-z0-9.]+)"),
        regexMatches = Seq("the" -> "\\bthe\\b")),
      "marked" -> d.copy(extractMarkedContent = true),
      "depth1" -> d.copy(maxDepth = 1),
      "embedded2" -> d.copy(maxEmbedded = 2))
  }

  val path = Paths.get("src/test/resources/golden", s"config-pins-v${Corpus.Version}.tsv")

  /** SHA-256 of a length-prefixed encoding of the document; first 8 bytes. */
  def docHash(d: ExtractedDoc): Long = {
    val md = MessageDigest.getInstance("SHA-256")
    def int(v: Int): Unit = {
      md.update((v >>> 24).toByte); md.update((v >>> 16).toByte)
      md.update((v >>> 8).toByte); md.update(v.toByte)
    }
    def str(s: String): Unit =
      if (s == null) int(-1)
      else { val b = s.getBytes(UTF_8); int(b.length); md.update(b) }
    str(d.doc_id); str(d.mime); str(d.status)
    int(d.spans.length)
    d.spans.foreach { s => str(s.kind); str(s.text); str(s.media_ref); int(s.offset) }
    int(d.meta.size)
    d.meta.toSeq.sortBy(_._1).foreach { case (k, vs) =>
      str(k); int(vs.length); vs.foreach(str)
    }
    val h = md.digest()
    (0 until 8).foldLeft(0L)((x, i) => (x << 8) | (h(i) & 0xffL))
  }

  /** Header line, then one line per row: index, one hex hash per config. */
  def render(): String = {
    val header = ("# index" +: Configs.map(_._1)).mkString("\t")
    val lines = Rows.map { i =>
      val row = Corpus.row(i.toLong)
      (i.toString +: Configs.map { case (_, cfg) =>
        java.lang.Long.toHexString(docHash(Extractor.extract(row, cfg)))
      }).mkString("\t")
    }
    (header +: lines).mkString("", "\n", "\n")
  }
}

class ConfigPinsSpec extends AnyFunSuite {

  test("extraction under every config variant matches the frozen hashes") {
    assert(Files.exists(ConfigPins.path),
      s"${ConfigPins.path} is missing; regenerate it on purpose with " +
        "sbt 'Test/runMain FreezeConfigPins' and review the change")
    val want = Files.readString(ConfigPins.path).split("\n")
    val got = ConfigPins.render().split("\n")
    assert(want.head == got.head, "config list differs from the pin file")
    val diffs = want.zip(got).filter { case (a, b) => a != b }
    val names = want.head.split("\t").drop(1)
    val detail = diffs.take(10).map { case (a, b) =>
      val (wa, ga) = (a.split("\t"), b.split("\t"))
      val cfgs = names.indices.filter(c => wa(c + 1) != ga(c + 1)).map(names(_))
      s"row ${wa(0)}: ${cfgs.mkString(",")}"
    }
    assert(want.length == got.length && diffs.isEmpty,
      s"${diffs.length} rows differ; first: ${detail.mkString("; ")}")
  }
}
