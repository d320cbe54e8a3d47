package graft.core

/** Core data model of the extraction engine.
  *
  * Mirrors the reference's (apache/tika) two fundamental shapes:
  *  - the SAX/XHTML event stream materialized as an ordered span array
  *    (reference: tika-core sax/XHTMLContentHandler.java) — here `Span`;
  *  - the per-document multi-valued metadata map
  *    (reference: tika-core metadata/Metadata.java:99) — here `meta`.
  *
  * The north-rule contract input is a table (doc_id: string,
  * spans: array<struct<kind,text,media_ref,offset>>); the output adds
  * (mime, status, meta) and rewrites `spans` as the ordered extraction
  * result.
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

object Span {
  // Input span kinds (payload carriers)
  val KindMedia = "media"

  // Output span kinds
  val KindText = "text"
  val KindEmbeddedOpen = "embedded-open"
  val KindEmbeddedClose = "embedded-close"

  def text(t: String, offset: Int): Span = Span(KindText, t, null, offset)
  def media(ref: String, offset: Int): Span = Span(KindMedia, "", ref, offset)
}

/** One input row: a document made of interleaved payload + media spans. */
final case class DocRow(doc_id: String, spans: Seq[Span])

/** Extraction result for one document.
  *
  * `status` follows the reference's PipesResult taxonomy
  * (tika-pipes/tika-pipes-api/.../PipesResult.java:23-66) flattened to a
  * string column; see [[Status]].
  */
final case class ExtractedDoc(
    doc_id: String,
    mime: String,
    status: String,
    spans: Seq[Span],
    meta: Map[String, Seq[String]],
    n_spans: Int,
    n_chars: Long
)

/** Status taxonomy (reference PipesResult.java:23-66 mapped). */
object Status {
  val ParseSuccess = "parse_success"
  val ParseSuccessWithException = "parse_success_with_exception"
  val UnsupportedType = "unsupported_type"
  val ParseException = "parse_exception"
  val WriteLimitReached = "write_limit_reached"
  val ZipBomb = "zip_bomb"
  val EmptyDoc = "empty"
  val Timeout = "timeout"
}

/** Per-partition lineage/metrics row — the resume checkpoint unit
  * (reference: tika-pipes PipesReporter; north rule "checkpoints
  * per-partition lineage ... into a metrics table").
  *
  * The task that extracts a partition folds this row from the documents
  * it yields (`Pipeline.run`), so it describes exactly the rows that
  * partition committed under `run_id`. `wall_ms` is that task's own time,
  * from its first shuffle read to its last extracted row, not the run's.
  */
final case class PartitionMetrics(
    partition_id: Int,
    doc_id_min: String,
    doc_id_max: String,
    n_docs: Long,
    n_spans: Long,
    n_chars: Long,
    n_success: Long,
    n_failed: Long,
    run_id: String,
    parser_version: String,
    wall_ms: Long
)

object Model {
  /** Bump when extraction semantics change — recorded in lineage rows so a
    * resume never mixes spans from two parser versions.
    */
  val ParserVersion = "graft-0.1.0"
}
