package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.media.MediaParser

/** Multimodal (image/audio/video) column plumbing.
  *
  * Media payloads travel as opaque `binary` columns + typed metadata
  * structs. Metadata (dimensions, duration, sample rate) is REAL — parsed
  * from the container bytes by [[graft.media.MediaParser]], mirroring the
  * reference's metadata-only media parsers (JpegParser/Mp3Parser etc.,
  * SURVEY.md §2.7). Only the ML *feature* vector is a disclosed
  * deterministic stub (no codec/model runtime in this sandbox): it hashes
  * payload bytes into an 8-dim vector with the exact batching/plan shape
  * a real encoder would use. Rows with a `media_ref` but no payload
  * (external blob:// references) fall back to the stub decode for ALL
  * fields — the only remaining fake path.
  */
object Multimodal {

  final case class MediaFeature(
      media_ref: String, media_type: String, mime: String,
      width: Int, height: Int, n_frames: Int,
      duration_ms: Long, sample_rate: Int,
      feature: Array[Float])

  /** STUB decode for payload-less refs: deterministic pseudo-metadata +
    * an 8-dim fake feature vector derived from the media_ref hash.
    */
  def fakeDecode(mediaRef: String): MediaFeature = {
    var h = mediaRef.hashCode.toLong & 0xffffffffL
    def next(): Long = { h ^= h << 13; h ^= h >>> 7; h ^= h << 17; h & 0x7fffffffL }
    val mt = (next() % 3) match {
      case 0 => "image"; case 1 => "audio"; case _ => "video"
    }
    val w = (224 + next() % 1824).toInt
    val ht = (224 + next() % 1056).toInt
    val frames = if (mt == "video") (24 + next() % 240).toInt
                 else if (mt == "image") 1 else 0
    val feat = Array.tabulate(8)(i => ((next() % 2000) - 1000) / 1000.0f)
    MediaFeature(mediaRef, mt, "application/octet-stream", w, ht, frames, 0L, 0, feat)
  }

  /** Real decode from payload bytes: container metadata via MediaParser;
    * the feature vector is the disclosed stub (byte-hash embedding).
    */
  def decodeBytes(mediaRef: String, payload: Array[Byte]): MediaFeature =
    MediaParser.parse(payload) match {
      case Some(m) =>
        val frames =
          if (m.kind == "video") (m.durationMs * 30 / 1000).toInt // nominal 30fps
          else if (m.kind == "image") 1 else 0
        MediaFeature(mediaRef, m.kind, m.mime, m.width, m.height, frames,
          m.durationMs, m.sampleRate, hashFeature(payload))
      case None => fakeDecode(mediaRef)
    }

  /** Deterministic 8-dim byte-hash "embedding" — the stub encoder. */
  private def hashFeature(payload: Array[Byte]): Array[Float] = {
    val acc = new Array[Long](8)
    var i = 0
    while (i < payload.length) {
      acc(i & 7) = acc(i & 7) * 31 + (payload(i) & 0xff)
      i += 1
    }
    acc.map(a => ((a % 2000 + 2000) % 2000 - 1000) / 1000.0f)
  }

  /** Batch feature extraction over (media_ref, payload) rows: one decoder
    * init per partition (the expensive part with real codecs), rows
    * streamed through it. `payload` may be null → stub path.
    */
  def extractFeatures(refs: DataFrame): DataFrame = {
    val spark = refs.sparkSession
    import spark.implicits._
    val withPayload = if (refs.columns.contains("payload")) refs
                      else refs.withColumn("payload", lit(null).cast("binary"))
    withPayload.select(col("media_ref"), col("payload"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        // real impl: val codec = Codec.open() — once per partition
        it.map { case (ref, payload) =>
          if (payload == null || payload.isEmpty) fakeDecode(ref)
          else decodeBytes(ref, payload)
        }
      }.toDF()
  }

  /** Frame sampling plan for video media: every `stride`-th frame index,
    * capped — pure plan-side arithmetic, the decode of each sampled frame
    * would run in the partition-local stage.
    */
  def sampleFrames(features: DataFrame, stride: Int = 30, maxFrames: Int = 8): DataFrame =
    features.filter(col("media_type") === "video")
      .withColumn("sampled_frames",
        slice(sequence(lit(0), col("n_frames") - 1, lit(stride)), 1, maxFrames))
      .select(col("media_ref"), col("n_frames"), col("sampled_frames"))
}
