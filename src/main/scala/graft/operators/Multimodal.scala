package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing for training-data
  * pipelines: media travels as opaque `binary` columns with typed
  * metadata structs, and decode / feature extraction run per-partition
  * over iterators so a real codec drops in without touching the
  * dataflow.
  *
  * Decoding is REAL for the public formats: BMP and WAV payloads are
  * parsed byte-for-byte by `MediaCodec` (magic, header geometry, sample
  * stats), PNG and JPEG through `javax.imageio`, and the extractors
  * dispatch by sniffing the payload — an undecodable container (here:
  * the mp4 rows; in production: any corrupt member) degrades to a
  * metadata-only row rather than failing the job.
  *
  * Scale note: media rows are 10⁴-10⁷ bytes, so the operative limits
  * are row-group size and partition bytes, not row counts. Features
  * detach from bytes early (`select` away the blob) so downstream
  * shuffles never carry media payloads.
  */
object Multimodal {

  /** Typed media row: opaque payload + source metadata. */
  case class MediaRow(
      media_id: Long,
      kind: String, // "image" | "audio" | "video"
      format: String, // container/codec tag, e.g. "jpeg", "wav"
      width: Int,
      height: Int,
      duration_ms: Long,
      bytes: Array[Byte])

  /** Decoded per-item features — every non-null value here came out of
    * a REAL header/sample parse (MediaCodec), which is what makes the
    * mm_features query oracle-able: the synthesis is deterministic from
    * (doc_id, text), so DuckDB can recompute what the decode MUST find
    * from the text alone, verifying the encode→bytes→parse round trip
    * cross-engine. */
  case class DecodedFeatures(
      media_id: Long,
      kind: String,
      format: String,
      n_bytes: Long,
      width: Option[Long], // BMP only
      height: Option[Long], // BMP only
      sample_rate: Option[Long], // WAV only
      n_samples: Option[Long], // WAV only
      mean_byte: Option[Double]) // mean decoded pixel/sample value

  /** Feature extraction through the real codecs, dispatching by payload
    * sniffing. Undecodable containers degrade to metadata-only rows —
    * at 100 TB a corpus always contains corrupt members, and one of them
    * must not kill the job. */
  def extractDecodedFeatures(media: Dataset[MediaRow]): Dataset[DecodedFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val bytes = Option(r.bytes).getOrElse(Array.emptyByteArray)
      val base = DecodedFeatures(r.media_id, r.kind, r.format,
        bytes.length.toLong, None, None, None, None, None)
      MediaCodec.decodeBmp(bytes) match {
        case Some(b) => base.copy(
          width = Some(b.width.toLong), height = Some(b.height.toLong),
          mean_byte = Some(b.meanPixel))
        case None => MediaCodec.decodeWav(bytes) match {
          case Some(w) => base.copy(
            sample_rate = Some(w.sampleRate.toLong),
            n_samples = Some(w.nSamples),
            mean_byte = Some(w.meanSample))
          case None => base
        }
      }
    })
  }

  /** Decoded per-image features through `javax.imageio` — the
    * real-world-format sibling of [[extractDecodedFeatures]] covering
    * PNG and JPEG (the containers LLM image corpora actually ship).
    * `mean_byte` is emitted for every decodable row; only the lossless
    * formats' means are cross-engine reproducible, so the gate query
    * projects PNG means and leaves JPEG means to the spec's
    * tolerance assertion. Undecodable rows degrade to metadata-only —
    * the same per-item isolation as every decode path here. */
  case class ImageFeatures(
      media_id: Long,
      format: String,
      n_bytes: Long,
      width: Option[Long],
      height: Option[Long],
      mean_byte: Option[Double])

  def extractImageFeatures(media: Dataset[MediaRow]): Dataset[ImageFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val bytes = Option(r.bytes).getOrElse(Array.emptyByteArray)
      MediaCodec.decodeImageIO(bytes) match {
        case Some(i) => ImageFeatures(r.media_id, r.format, bytes.length.toLong,
          Some(i.width.toLong), Some(i.height.toLong), Some(i.meanChannel))
        case None => ImageFeatures(r.media_id, r.format, bytes.length.toLong,
          None, None, None)
      }
    })
  }

  /** Synthesize an IMAGE media table from any text column, in the
    * real-world containers: id%3 = 0 rows carry a PNG and id%3 = 1 a
    * JPEG (both real encodes of the text bytes as 4-wide 24bpp pixel
    * rows — [[syntheticMediaFromText]]'s BMP geometry, so the oracles
    * share one formula), id%3 = 2 a deliberately undecodable payload
    * (the corrupt-member path). */
  def syntheticImagesFromText(
      df: DataFrame, idCol: String, textCol: String): Dataset[MediaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    // Size-adaptive WIDENING (the inverse of QualityClassifier's round
    // coalesce): the imageio encode below — and the decode every
    // consumer chains onto it — costs orders of magnitude more CPU per
    // byte than the scan, so its parallelism must track cores, not
    // input bytes. A small corpus arrives as one scan split (ONE task
    // ran the whole codec path; measured 2 × ~600 ms single-task jobs
    // in mm_features_img at sf0.1 on 32 idle cores), so
    // hash-repartition the lightweight (id, text) rows by id —
    // deterministic key, never rand() — up to default parallelism. At
    // 100 TB the scan already carries ≥ cores partitions and the
    // exchange is skipped. The map below is per-row deterministic, so
    // layout cannot change any consumer's rows.
    val src = df.select(
      col(idCol).cast("long").as("mid"), col(textCol).cast("string").as("mtext"))
    val target = spark.sparkContext.defaultParallelism
    val widened =
      if (src.rdd.getNumPartitions < target) src.repartition(target, col("mid"))
      else src
    widened
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val l = bytes.length
        val h = math.max(1, l / 12)
        lazy val pixels = java.util.Arrays.copyOf(bytes, 12 * h)
        (id % 3) match {
          case 0 =>
            MediaRow(id, "image", "png", 4, h, 0L,
              MediaCodec.encodePng24(4, h, pixels))
          case 1 =>
            MediaRow(id, "image", "jpeg", 4, h, 0L,
              MediaCodec.encodeJpeg24(4, h, pixels))
          case _ =>
            MediaRow(id, "image", "bin", 0, 0, 0L, bytes)
        }
      }
  }

  /** Synthesize a media table from any text column (this container has
    * no real media FILES, but the payloads are real media BYTES): image
    * rows carry a well-formed 24bpp BMP whose pixels are the text bytes,
    * audio rows a PCM-8 WAV whose samples are the text bytes, and video
    * rows a deliberately undecodable payload (exercising the corrupt-
    * member path). Lets the whole multimodal pipeline — encode, decode,
    * feature extraction, oracle — run on the standard `documents`
    * testdata. */
  def syntheticMediaFromText(
      df: DataFrame, idCol: String, textCol: String): Dataset[MediaRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val l = bytes.length
        (id % 3) match {
          case 0 =>
            // width 4 → 12-byte rows, already 4-byte aligned (no padding);
            // pixels = text bytes truncated (or zero-padded when l < 12)
            val h = math.max(1, l / 12)
            val pixels = java.util.Arrays.copyOf(bytes, 12 * h)
            MediaRow(id, "image", "bmp", 4, h, l * 100L,
              MediaCodec.encodeBmp24(4, h, pixels))
          case 1 =>
            val rate = (8000 + (id % 5) * 2000).toInt
            MediaRow(id, "audio", "wav", 0, 0, l * 100L,
              MediaCodec.encodeWavPcm8(rate, bytes))
          case _ =>
            MediaRow(id, "video", "mp4", 0, 0, l * 100L, bytes)
        }
      }
  }
}
