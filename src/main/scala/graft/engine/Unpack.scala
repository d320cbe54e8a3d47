package graft.engine

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Dataset}
import graft.core.{DocRow, Span}
import graft.mime.{MediaTypes, MimeDb, MimeRegistry}
import graft.warc.WarcExtractor
import graft.zipx.{OpcDetector, ZipUtil}

/** The `/unpack` path: emit every embedded resource's raw bytes as its
  * own output row (reference: tika-pipes UnpackExtractor /
  * tika-server UnpackerResource — SURVEY.md §2.10 "optional second
  * output table of extracted media blobs").
  *
  * Walks part of the extraction engine's container tree (zip/EPUB,
  * tar, 7z, ar/deb/cpio, warc, the gzip/bzip2/xz/lz4/zstd/Unix-compress
  * codecs, OOXML-as-zip media parts, email attachments) but collects
  * bytes instead of parsing them. Codecs and archive members come from
  * the engine's own tables. Per-row caps mirror the extraction config.
  */
object Unpack {

  private val Codecs = Seq(MediaTypes.Gzip, MimeDb.Bzip2, MimeDb.Xz, MimeDb.Lz4,
    MimeDb.Zstd, MimeDb.UnixCompress).map(m => m -> Extractor.Codecs(m)).toMap

  private val Archives = Seq(MimeDb.Tar, MimeDb.Gtar, MimeDb.SevenZ, MimeDb.Ar,
    MimeDb.Deb, MimeDb.Cpio).map(m => m -> Extractor.ArchiveEntries(m)).toMap

  final case class EmbeddedBlob(
      doc_id: String, id_path: String, name: String, mime: String,
      n_bytes: Long, sha256: String, truncated: Boolean, bytes: Array[Byte])

  final case class Config(maxDepth: Int = 10, maxEmbedded: Int = 100,
      maxBlobBytes: Int = 16 * 1024 * 1024, keepBytes: Boolean = true)

  def unpackDoc(row: DocRow, cfg: Config = Config()): Vector[EmbeddedBlob] = {
    val out = new ArrayBuffer[EmbeddedBlob]()
    var count = 0

    def digest(b: Array[Byte]): String =
      graft.core.Hex.encode(
        java.security.MessageDigest.getInstance("SHA-256").digest(b))

    def emit(idPath: String, name: String, data: Array[Byte]): Unit = {
      val truncated = data.length > cfg.maxBlobBytes
      val trimmed = if (truncated) java.util.Arrays.copyOf(data, cfg.maxBlobBytes)
                    else data
      // sha256 always covers the FULL content so it joins against
      // full-content hashes; `truncated` flags that `bytes` is a prefix
      out += EmbeddedBlob(row.doc_id, idPath, name,
        MimeRegistry.detect(trimmed, Option(name)), data.length.toLong,
        digest(data), truncated,
        if (cfg.keepBytes) trimmed else Array.emptyByteArray)
    }

    def walk(bytes: Array[Byte], idPath: String, nameHint: Option[String],
        depth: Int): Unit = {
      if (bytes.isEmpty || depth >= cfg.maxDepth || count >= cfg.maxEmbedded) return
      val mime0 = MimeRegistry.detect(bytes, nameHint)
      val mime =
        if (mime0 == MediaTypes.Zip || mime0 == MediaTypes.TikaOoxml)
          try OpcDetector.specialize(bytes, nameHint)
          catch { case _: Exception => mime0 }
        else mime0

      def child(name: String, data: Array[Byte], hint: Option[String]): Unit =
        if (count < cfg.maxEmbedded) {
          count += 1
          val childPath = s"$idPath/$count"
          emit(childPath, name, data)
          walk(data, childPath, hint, depth + 1)
        }

      try mime match {
        case MediaTypes.Zip | MediaTypes.Epub =>
          ZipUtil.entries(bytes).foreach(e => child(e.name, e.data, Some(e.name)))
        case m if Codecs.contains(m) =>
          child(nameHint.map(_ + "~unc").getOrElse("unc"), Codecs(m)(bytes), None)
        case m if Archives.contains(m) =>
          Archives(m)(bytes, None).foreach { case (name, data) =>
            child(name, data, Some(name))
          }
        case MimeDb.Warc =>
          WarcExtractor.records(bytes)
            .filter(r => r.warcType == "response" && r.body.nonEmpty)
            .foreach { rec =>
              val payload =
                Extractor.httpPayload(rec.body, WarcExtractor.parseHttpHead(rec.body))
              val name = rec.targetUri.getOrElse(s"record-${count + 1}")
              child(name, payload, Some(name))
            }
        case MediaTypes.Eml =>
          graft.mail.EmlExtractor.extract(bytes, new SpanSink(), new MetaSink,
            (name, data) =>
              child(name.getOrElse(s"attachment-${count + 1}"), data, name))
        case _ => () // leaf: nothing further to unpack
      } catch { case _: Exception => () }
    }

    row.spans.sortBy(_.offset).foreach { s =>
      if (s.kind != Span.KindMedia) walk(Extractor.payloadBytes(s), "", None, 0)
    }
    out.toVector
  }

  /** Dataset face: one row per embedded resource. */
  def unpack(ds: Dataset[DocRow], cfg: Config = Config()): DataFrame = {
    import ds.sparkSession.implicits._
    ds.mapPartitions(_.flatMap(row => unpackDoc(row, cfg))).toDF()
  }
}
