package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSpecBase
import graft.operators.SimilaritySearch

class StreamingEmbedDedupSpec extends SparkSpecBase {

  import spark.implicits._

  private val Dim = 16
  private val Bits = 4
  private val Threshold = 0.9

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("vec", ArrayType(DoubleType)),
    StructField("ts", StringType)))

  /** 12 gaussian base vectors (seeded — deterministic); every third
    * group's second vector is a near-copy (base + 5% noise, cosine
    * ≈ 0.998, far above the 0.9 cut), the rest get an independent
    * gaussian (dim-16 random cosines concentrate near 0 — and even if
    * one crossed the cut, the batch anchor crosses it identically).
    * Timestamps follow doc_id a minute apart, so stream arrival order
    * is id order — the regime where the streaming flagged set equals
    * the batch pairs' later elements. */
  private def corpus: Seq[(Long, Seq[Double], String)] = {
    val rnd = new scala.util.Random(42)
    def gauss() = Seq.fill(Dim)(rnd.nextGaussian())
    (0 until 12).flatMap { g =>
      val base = gauss()
      val second =
        if (g % 3 == 0) base.map(x => x + 0.05 * rnd.nextGaussian())
        else gauss()
      val baseId = g * 2L
      Seq(
        (baseId, base, f"2024-01-01T10:${baseId}%02d:00"),
        (baseId + 1, second, f"2024-01-01T10:${baseId + 1}%02d:00"))
    }
  }

  /** Batch anchor: every above-threshold lshNeighbors pair's LATER
    * element (arrival = id order). k = corpus size so top-k truncation
    * cannot hide a pair. */
  private def batchFlagged: Set[Long] = {
    val batch = corpus.toDF("doc_id", "vec", "ts")
    val flagged = SimilaritySearch.lshNeighbors(
      batch, "doc_id", "vec", dim = Dim, nBits = Bits, k = 24)
      .filter(col("cos") >= Threshold && col("vec_id") < col("neighbor_id"))
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(flagged.nonEmpty, "fixture must produce near-dup pairs")
    flagged
  }

  private def runStream(maxBucketState: Int, queryName: String): Set[Long] = {
    val src = Files.createTempDirectory("graft-sed-src").toString
    corpus.toDF("doc_id", "vec", "ts").coalesce(1).write.mode("append").json(src)
    val ckpt = Files.createTempDirectory("graft-sed-ckpt").toString
    val q = StreamingDedup.embeddingDupStream(spark,
      spark.readStream.schema(schema).json(src), "doc_id", "vec",
      dim = Dim, nBits = Bits, timeCol = "ts", horizonMinutes = 600,
      threshold = Threshold, maxBucketState = maxBucketState)
      .writeStream.format("memory").queryName(queryName)
      .outputMode("append").option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    val notices = spark.table(queryName).collect()
    // every notice names a strictly earlier arrival
    assert(notices.forall(r => r.getAs[Long]("matched_doc_id") < r.getAs[Long]("doc_id")))
    notices.map(_.getAs[Long]("doc_id")).toSet
  }

  test("streaming notices equal the batch lshNeighbors later-elements on a bounded replay") {
    assert(runStream(maxBucketState = 4096, "sed_out") === batchFlagged)
  }

  test("the per-bucket state cap keeps cluster semantics (near-copies arrive adjacent)") {
    // cap = 2: each bucket holds only its 2 most recent members, yet the
    // flagged set is unchanged — a near-copy's base is always the most
    // recent member of its bucket when the copy arrives (id order), which
    // is exactly the regime the occupancy guard is designed around
    assert(runStream(maxBucketState = 2, "sed_cap_out") === batchFlagged)
  }

  test("vectors beyond the watermark horizon are forgotten (bounded state), across restarts") {
    val rnd = new scala.util.Random(7)
    def gauss() = Seq.fill(Dim)(rnd.nextGaussian())
    val base = gauss()
    val twin = base.map(x => x + 0.05 * rnd.nextGaussian())
    val filler = gauss()
    val src = Files.createTempDirectory("graft-sed-h-src").toString
    val ckpt = Files.createTempDirectory("graft-sed-h-ckpt").toString
    val out = Files.createTempDirectory("graft-sed-h-out").toString
    val noticeSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("event_time", TimestampType),
      StructField("matched_doc_id", LongType)))
    def runOnce(): Unit = {
      val q = StreamingDedup.embeddingDupStream(spark,
        spark.readStream.schema(schema).json(src), "doc_id", "vec",
        dim = Dim, nBits = Bits, timeCol = "ts", horizonMinutes = 10,
        threshold = Threshold)
        .writeStream.format("parquet").option("path", out)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q.stop()
    }
    // phase 1: the original registers; phase 2: a filler two hours later
    // advances the watermark past original + horizon; phase 3: the twin
    // lands far outside the horizon → NOT flagged
    Seq((0L, base, "2024-01-01T10:00:00")).toDF("doc_id", "vec", "ts")
      .coalesce(1).write.mode("append").json(src)
    runOnce()
    Seq((1L, filler, "2024-01-01T12:00:00")).toDF("doc_id", "vec", "ts")
      .coalesce(1).write.mode("append").json(src)
    runOnce()
    Seq((2L, twin, "2024-01-01T12:05:00")).toDF("doc_id", "vec", "ts")
      .coalesce(1).write.mode("append").json(src)
    runOnce()
    assert(spark.read.schema(noticeSchema).parquet(out).isEmpty,
      "a twin beyond the horizon must not be flagged — state was not evicted")

    // control: the SAME twin within the horizon IS flagged
    val src2 = Files.createTempDirectory("graft-sed-h2-src").toString
    val ckpt2 = Files.createTempDirectory("graft-sed-h2-ckpt").toString
    Seq((0L, base, "2024-01-01T10:00:00"), (2L, twin, "2024-01-01T10:05:00"))
      .toDF("doc_id", "vec", "ts").coalesce(1).write.mode("append").json(src2)
    val q2 = StreamingDedup.embeddingDupStream(spark,
      spark.readStream.schema(schema).json(src2), "doc_id", "vec",
      dim = Dim, nBits = Bits, timeCol = "ts", horizonMinutes = 10,
      threshold = Threshold)
      .writeStream.format("memory").queryName("sed_h2_out")
      .outputMode("append").option("checkpointLocation", ckpt2)
      .start()
    q2.processAllAvailable()
    q2.stop()
    assert(spark.table("sed_h2_out").collect().map(_.getAs[Long]("doc_id")).toSet === Set(2L))
  }

  /** The corpus plus `extra` rows, batch and streamed: the stream's
    * flagged set equals the batch anchor's, and `extra` adds no pair to
    * the anchor. */
  private def assertExtraRowsPairWithNothing(extra: Seq[(Long, Option[Seq[Option[Double]]], String)],
      name: String): Unit = {
    val rows = corpus.map { case (id, v, ts) => (id, Option(v.map(Option(_))), ts) } ++ extra
    val batch = rows.toDF("doc_id", "vec", "ts")
    val expected = SimilaritySearch.lshNeighbors(
      batch, "doc_id", "vec", dim = Dim, nBits = Bits, k = 26)
      .filter(col("cos") >= Threshold && col("vec_id") < col("neighbor_id"))
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(expected === batchFlagged, s"the $name rows pair with nothing in the batch walk")
    val src = Files.createTempDirectory(s"graft-sed-$name-src").toString
    batch.coalesce(1).write.mode("append").json(src)
    val ckpt = Files.createTempDirectory(s"graft-sed-$name-ckpt").toString
    val q = StreamingDedup.embeddingDupStream(spark,
      spark.readStream.schema(schema).json(src), "doc_id", "vec",
      dim = Dim, nBits = Bits, timeCol = "ts", horizonMinutes = 600,
      threshold = Threshold)
      .writeStream.format("memory").queryName(s"sed_${name}_out")
      .outputMode("append").option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    assert(spark.table(s"sed_${name}_out").collect().map(_.getAs[Long]("doc_id")).toSet === expected)
  }

  test("NULL vectors drop in the projection: the flagged set equals the batch anchor's") {
    // two NULL rows, so the batch walk's one NULL bucket holds two members
    assertExtraRowsPairWithNothing(Seq(
      (100L, None, "2024-01-01T10:30:00"), (101L, None, "2024-01-01T10:31:00")), "null")
  }

  test("vectors with a NULL element drop in the projection: the flagged set equals the batch anchor's") {
    // two copies, so the batch walk buckets them together; their norm is NULL
    val v = Some(Some(1.0) +: None +: Seq.fill(Dim - 2)(Some(0.5)))
    assertExtraRowsPairWithNothing(Seq(
      (100L, v, "2024-01-01T10:30:00"), (101L, v, "2024-01-01T10:31:00")), "null_element")
  }
}
