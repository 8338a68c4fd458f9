package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.SparkSpecBase
import graft.operators.Dedup

class StreamingDedupSpec extends SparkSpecBase {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("ts", StringType)))

  /** 24-word docs over per-doc vocabularies (no cross-doc shingles);
    * every third doc is a near-copy of its predecessor with one word
    * changed (21/25 shingle Jaccard ≈ 0.84 — firmly above the 0.5
    * est-Jaccard cut). Timestamps follow doc_id a minute apart, so
    * stream arrival order is id order. */
  private def corpus: Seq[(Long, String, String)] =
    (0 until 12).flatMap { g =>
      val words = (0 until 24).map(w => s"w${g}_$w")
      val base = words.mkString(" ")
      val variant = (words.dropRight(1) :+ s"changed_$g").mkString(" ")
      val baseId = g * 2L
      Seq(
        (baseId, base, f"2024-01-01T10:${baseId}%02d:00"),
        (baseId + 1, if (g % 3 == 0) variant else words.map("x" + _).mkString(" "),
          f"2024-01-01T10:${baseId + 1}%02d:00"))
    }

  test("streaming notices equal the batch minhashPairs later-elements on a bounded replay") {
    val batch = corpus.toDF("doc_id", "text", "ts")
    // anchor: every pair's LATER doc (arrival = id order) must be flagged
    val expected = Dedup.minhashPairs(batch, "doc_id", "text")
      .select("doc_b").collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty, "fixture must produce near-dup pairs")

    val src = Files.createTempDirectory("graft-sdd-src").toString
    batch.coalesce(1).write.mode("append").json(src)
    val ckpt = Files.createTempDirectory("graft-sdd-ckpt").toString
    val q = StreamingDedup.minhashDupStream(spark,
      spark.readStream.schema(schema).json(src), "doc_id", "text",
      timeCol = "ts", horizonMinutes = 600)
      .writeStream.format("memory").queryName("sdd_out")
      .outputMode("append").option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    val notices = spark.table("sdd_out").collect()
    val flagged = notices.map(_.getAs[Long]("doc_id")).toSet
    assert(flagged === expected, s"flagged $flagged, batch anchor $expected")
    // every notice names a strictly earlier arrival
    assert(notices.forall(r => r.getAs[Long]("matched_doc_id") < r.getAs[Long]("doc_id")))
  }

  test("near-dups beyond the watermark horizon are forgotten (bounded state), across restarts") {
    val base = (0 until 24).map(w => s"h_$w").mkString(" ")
    val variant = (0 until 23).map(w => s"h_$w").mkString(" ") + " h_changed"
    val filler1 = (0 until 24).map(w => s"f1_$w").mkString(" ")
    val src = Files.createTempDirectory("graft-sdd-h-src").toString
    val ckpt = Files.createTempDirectory("graft-sdd-h-ckpt").toString
    val out = Files.createTempDirectory("graft-sdd-h-out").toString
    // memory sinks cannot recover a checkpoint — the restart phases need
    // a real (parquet) sink, read back with an explicit schema so an
    // empty result stays readable
    val noticeSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("event_time", TimestampType),
      StructField("matched_doc_id", LongType)))
    def runOnce(): Unit = {
      val q = StreamingDedup.minhashDupStream(spark,
        spark.readStream.schema(schema).json(src), "doc_id", "text",
        timeCol = "ts", horizonMinutes = 10)
        .writeStream.format("parquet").option("path", out)
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q.stop()
    }
    // phase 1: the original registers
    Seq((0L, base, "2024-01-01T10:00:00")).toDF("doc_id", "text", "ts")
      .coalesce(1).write.mode("append").json(src)
    runOnce()
    // phase 2: an unrelated doc two hours later pushes the watermark past
    // the original + horizon (eviction lags one batch — the advance must
    // happen BEFORE the twin arrives)
    Seq((1L, filler1, "2024-01-01T12:00:00")).toDF("doc_id", "text", "ts")
      .coalesce(1).write.mode("append").json(src)
    runOnce()
    // phase 3: the twin lands far outside the horizon → NOT flagged
    Seq((2L, variant, "2024-01-01T12:05:00")).toDF("doc_id", "text", "ts")
      .coalesce(1).write.mode("append").json(src)
    runOnce()
    assert(spark.read.schema(noticeSchema).parquet(out).isEmpty,
      "a twin beyond the horizon must not be flagged — state was not evicted")

    // control: the SAME twin within the horizon IS flagged (proves the
    // expiry test would have caught a match)
    val src2 = Files.createTempDirectory("graft-sdd-h2-src").toString
    val ckpt2 = Files.createTempDirectory("graft-sdd-h2-ckpt").toString
    Seq((0L, base, "2024-01-01T10:00:00"), (2L, variant, "2024-01-01T10:05:00"))
      .toDF("doc_id", "text", "ts").coalesce(1).write.mode("append").json(src2)
    val q2 = StreamingDedup.minhashDupStream(spark,
      spark.readStream.schema(schema).json(src2), "doc_id", "text",
      timeCol = "ts", horizonMinutes = 10)
      .writeStream.format("memory").queryName("sdd_h2_out")
      .outputMode("append").option("checkpointLocation", ckpt2)
      .start()
    q2.processAllAvailable()
    q2.stop()
    assert(spark.table("sdd_h2_out").collect().map(_.getAs[Long]("doc_id")).toSet === Set(2L))
  }

  test("one bucket past Dedup.DefaultMaxBucket identical docs: every doc after the first flags") {
    // identical docs share all 16 band buckets; the state of each stays
    // at the cap, and the second micro-batch reads that capped state
    val n = Dedup.DefaultMaxBucket + 100
    val text = (0 until 24).map(w => s"hot_$w").mkString(" ")
    val src = Files.createTempDirectory("graft-sdd-hot-src").toString
    val ckpt = Files.createTempDirectory("graft-sdd-hot-ckpt").toString
    Seq((0L until n - 50L, "2024-01-01T10:00:00"), (n - 50L until n, "2024-01-01T10:01:00"))
      .foreach { case (ids, ts) =>
        ids.map(id => (id, text, ts)).toDF("doc_id", "text", "ts")
          .coalesce(1).write.mode("append").json(src)
      }
    val q = StreamingDedup.minhashDupStream(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src),
      "doc_id", "text", timeCol = "ts", horizonMinutes = 600)
      .writeStream.format("memory").queryName("sdd_hot_out")
      .outputMode("append").option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    q.stop()
    val notices = spark.table("sdd_hot_out").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("matched_doc_id")))
    assert(notices.map(_._1).toSet === (1L until n).toSet)
    // the newest member is the first match: each doc names its predecessor
    assert(notices.forall { case (d, m) => m == d - 1 })
  }
}
