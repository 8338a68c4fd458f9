package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.SparkSpecBase
import graft.fixtures.MediaFixtures
import graft.operators.{MediaCodec, Multimodal, PerceptualHash}

/** Streaming pHash near-duplicate detection — arrival-time parity with
  * the batch operator (`PerceptualHash.phashPairs`), the family
  * convention every other streaming dedup twin follows: on a bounded
  * replay in id order, the flagged set is exactly the batch pair set's
  * later elements, corrupt payloads drop at decode, and every notice
  * names a strictly earlier arrival. */
class StreamingPhashDedupSpec extends SparkSpecBase {

  import spark.implicits._

  // PerceptualHashSpec's fixture recipe: bilinear value-noise images —
  // a planted copy cluster {1=PNG, 2=JPEG re-encode, 3=half-size BMP}
  // of the same picture, a distinct image 4, a corrupt payload 5
  private def blobs(w: Int, h: Int, seed: Int): Array[Byte] = {
    val G = 8
    val rng = new java.util.Random(seed)
    val grid = Array.fill(3, G + 1, G + 1)(rng.nextInt(256))
    val px = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val gy = y.toDouble * G / h; val y0 = gy.toInt; val fy = gy - y0
      var x = 0
      while (x < w) {
        val gx = x.toDouble * G / w; val x0 = gx.toInt; val fx = gx - x0
        val i = (y * w + x) * 3
        var c = 0
        while (c < 3) {
          val g = grid(c)
          val v = g(y0)(x0) * (1 - fx) * (1 - fy) + g(y0)(x0 + 1) * fx * (1 - fy) +
            g(y0 + 1)(x0) * (1 - fx) * fy + g(y0 + 1)(x0 + 1) * fx * fy
          px(i + c) = v.toInt.toByte
          c += 1
        }
        x += 1
      }
      y += 1
    }
    px
  }

  private val W = 64; private val H = 64
  private val baseA = blobs(W, H, seed = 1)
  private val baseB = blobs(W, H, seed = 5)

  private def payloads: Seq[(Long, Array[Byte])] = Seq(
    1L -> MediaCodec.encodePng24(W, H, baseA),
    2L -> MediaCodec.encodeJpeg24(W, H, baseA),
    3L -> MediaFixtures.resizeBmp24(MediaCodec.encodeBmp24(W, H, baseA), W / 2, H / 2).get,
    4L -> MediaCodec.encodePng24(W, H, baseB),
    5L -> Array[Byte](1, 2, 3))

  test("streaming notices equal the batch phashPairs later-elements on a bounded replay") {
    val batchMedia = spark.createDataset(payloads.map { case (id, b) =>
      Multimodal.MediaRow(id, "image", "bin", 0, 0, 0L, b)
    })
    val expected = PerceptualHash.phashPairs(batchMedia)
      .select("doc_b").collect().map(_.getLong(0)).toSet
    assert(expected == Set(2L, 3L), s"fixture anchor drifted: $expected")

    val src = Files.createTempDirectory("graft-sph-src").toString
    payloads.map { case (id, b) => (id, b, f"2024-01-01T10:${id}%02d:00") }
      .toDF("media_id", "bytes", "ts")
      .coalesce(1).write.mode("append").parquet(src)
    val ckpt = Files.createTempDirectory("graft-sph-ckpt").toString
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("bytes", BinaryType),
      StructField("ts", StringType)))
    val q = StreamingDedup.phashDupStream(spark,
      spark.readStream.schema(schema).parquet(src), "media_id", "bytes",
      timeCol = "ts", horizonMinutes = 600)
      .writeStream.format("memory").queryName("sph_out")
      .outputMode("append").option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    val notices = spark.table("sph_out").collect()
    val flagged = notices.map(_.getAs[Long]("doc_id")).toSet
    assert(flagged === expected, s"flagged $flagged, batch anchor $expected")
    assert(notices.forall(r => r.getAs[Long]("matched_doc_id") < r.getAs[Long]("doc_id")))
  }

  test("copies beyond the watermark horizon are forgotten; in-horizon copies flag") {
    // arrival: original at 10:00, a filler distinct image at 10:05, a
    // re-encode copy at 10:30 — past the 10-minute horizon, so NO flag;
    // then a second copy 2 minutes later — in-horizon vs the 10:30
    // copy, so it flags against it (cluster semantics: the unflagged
    // copy still registered)
    val rows = Seq(
      (1L, MediaCodec.encodePng24(W, H, baseA), "2024-01-01T10:00:00"),
      (4L, MediaCodec.encodePng24(W, H, baseB), "2024-01-01T10:05:00"),
      (6L, MediaCodec.encodeJpeg24(W, H, baseA), "2024-01-01T10:30:00"),
      (7L, MediaFixtures.resizeBmp24(
        MediaCodec.encodeBmp24(W, H, baseA), W / 2, H / 2).get, "2024-01-01T10:32:00"))
    val src = Files.createTempDirectory("graft-sph-h-src").toString
    rows.toDF("media_id", "bytes", "ts")
      .coalesce(1).write.mode("append").parquet(src)
    val ckpt = Files.createTempDirectory("graft-sph-h-ckpt").toString
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("bytes", BinaryType),
      StructField("ts", StringType)))
    val q = StreamingDedup.phashDupStream(spark,
      spark.readStream.schema(schema).parquet(src), "media_id", "bytes",
      timeCol = "ts", horizonMinutes = 10)
      .writeStream.format("memory").queryName("sph_h_out")
      .outputMode("append").option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    val notices = spark.table("sph_h_out").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("matched_doc_id"))).toSet
    assert(notices == Set((7L, 6L)),
      s"expected only the in-horizon copy pair (7,6), got $notices")
  }
}
